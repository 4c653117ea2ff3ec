"""CLI — parity with the reference's ``ringo [flags] INPUT OUTPUT``
(``app/Ringo/ArgParser.hs:23-119``), extended with an ``--execute`` mode
that actually runs the derived pipelines on Spark (the reference only
emits SQL files).

Every reference settings flag is exposed under the same long name (plus
the same ``-d/-f/-t`` shorts); earlier spellings of the renamed flags are
kept as hidden aliases.

Generate artifacts (reference behavior)::

    python -m ringo_spark input.yaml output/

Execute against parquet sources::

    python -m ringo_spark input.yaml output/ \
        --execute --data /root/testdata/sf0.001 --storage /tmp/warehouse \
        --mode full --time-upper 2100-01-01
"""

from __future__ import annotations

import argparse
import datetime as dt
import sys

from .input_parser import parse_input
from .model import PopulationMode, Settings, TimeUnit
from .validator import ValidationFailed, make_env


def add_settings_flags(p: argparse.ArgumentParser) -> None:
    """One flag per reference Settings field (ArgParser.hs:23-88).
    Defaults mirror defSettings (Types/Internal.hs:152-169)."""
    d = Settings()
    p.add_argument("-d", "--dim-prefix", default=d.dim_prefix,
                   help="Prefix for dimension tables")
    p.add_argument("-f", "--fact-prefix", default=d.fact_prefix,
                   help="Prefix for fact tables")
    p.add_argument("-t", "--timeunit", "--time-unit", dest="timeunit",
                   default=d.time_unit.unit_name,
                   type=str.lower,
                   choices=["second", "minute", "hour", "day", "week"],
                   help="Time unit granularity for fact tables")
    p.add_argument("--avg-count-col-suffix", default=d.avg_count_column_suffix,
                   help="Suffix for average count columns")
    p.add_argument("--avg-sum-col-suffix", default=d.avg_sum_column_suffix,
                   help="Suffix for average sum columns")
    p.add_argument("--dim-id-col-name", default=d.dim_table_id_column_name,
                   help="Name of dimension table id columns")
    p.add_argument("--dim-id-col-type", default=d.dim_table_id_column_type,
                   help="Type of dimension table id columns")
    p.add_argument("--fact-count-col-type", default=d.fact_count_column_type,
                   help="Type of fact table count columns")
    p.add_argument("--fact-count-distinct-error-rate",
                   "--count-distinct-error-rate",
                   dest="fact_count_distinct_error_rate",
                   type=float, default=d.fact_count_distinct_error_rate,
                   help="Error rate for count distinct calculations")
    p.add_argument("--fact-infix", default=d.fact_infix,
                   help="Infix for fact tables")
    p.add_argument("--dependencies-json-file",
                   default=d.dependencies_json_file_name,
                   help="Name of the output dependencies json file")
    p.add_argument("--facts-json-file", default=d.facts_json_file_name,
                   help="Name of the output facts json file")
    p.add_argument("--dimensions-json-file",
                   default=d.dimension_json_file_name,
                   help="Name of the output dimensions json file")
    p.add_argument("--foreign-key-id-coalesce-val", "--fk-coalesce-value",
                   dest="foreign_key_id_coalesce_val",
                   type=int, default=d.foreign_key_id_coalesce_value,
                   help="Value to coalesce missing foreign key ids to")
    p.add_argument("--tablename-suffix-template", "--suffix-template",
                   dest="tablename_suffix_template",
                   default=d.table_name_suffix_template,
                   help="Suffix template for table names in SQL")


def build_settings(args) -> Settings:
    return Settings(
        dim_prefix=args.dim_prefix,
        fact_prefix=args.fact_prefix,
        time_unit=TimeUnit[args.timeunit.upper()],
        avg_count_column_suffix=args.avg_count_col_suffix,
        avg_sum_column_suffix=args.avg_sum_col_suffix,
        dim_table_id_column_name=args.dim_id_col_name,
        dim_table_id_column_type=args.dim_id_col_type,
        fact_count_column_type=args.fact_count_col_type,
        fact_count_distinct_error_rate=args.fact_count_distinct_error_rate,
        fact_infix=args.fact_infix,
        dependencies_json_file_name=args.dependencies_json_file,
        facts_json_file_name=args.facts_json_file,
        dimension_json_file_name=args.dimensions_json_file,
        foreign_key_id_coalesce_value=args.foreign_key_id_coalesce_val,
        table_name_suffix_template=args.tablename_suffix_template,
    )


def main(argv=None) -> int:
    from . import __version__

    p = argparse.ArgumentParser(prog="ringo_spark")
    # "<progName> <version>" — the reference's versionParser
    # (app/Ringo/ArgParser.hs:106-111) prints exactly this shape
    p.add_argument("--version", action="version",
                   version=f"ringo_spark {__version__}",
                   help="Print version information")
    p.add_argument("input", help="YAML schema+facts input file")
    p.add_argument("output", help="artifact output directory")
    add_settings_flags(p)
    p.add_argument("--execute", action="store_true",
                   help="run the pipelines on Spark instead of only "
                        "emitting artifacts")
    p.add_argument("--data", help="directory of <table>.parquet sources")
    p.add_argument("--storage", help="warehouse directory for derived tables")
    p.add_argument("--mode", default="full", choices=["full", "incremental"])
    p.add_argument("--time-upper", help="ISO timestamp upper bound")
    p.add_argument("--time-lower", help="ISO timestamp lower bound (incremental)")
    p.add_argument("--keep-versions", type=int, default=1,
                   help="how many published snapshots of each table stay "
                        "readable (>1 enables read_table(version=N))")
    p.add_argument("--salt-tenant-buckets", type=int, metavar="N", default=0,
                   help="route TenantId-grain fact aggregations through "
                        "two-phase salted aggregation with N salt buckets "
                        "(spreads a hot tenant over N reducers; mergeable "
                        "partials, HLL sketch-union for count-distinct)")
    p.add_argument("--bucket-sources", type=int, metavar="N", default=0,
                   help="store both sides of every parent-fact FK join "
                        "bucketed by the key into N buckets before "
                        "populating (removes the pipeline's one "
                        "fact-sized shuffle; the 100x-scale knob)")
    p.add_argument("--publish-jdbc", metavar="URL",
                   help="after populating, publish dims+facts to this "
                        "JDBC URL (dims first; the reference's Postgres "
                        "sink equivalent)")
    p.add_argument("--jdbc-driver", help="JDBC driver class for "
                                         "--publish-jdbc")
    p.add_argument("--jdbc-mode", default="error",
                   choices=["error", "append", "overwrite"],
                   help="save mode for --publish-jdbc (default 'error': "
                        "refuse to touch existing target tables; pick "
                        "'overwrite' explicitly for refresh flows — add "
                        "truncate=true via the sink to keep DDL/grants)")
    p.add_argument("--sql-dialect", default="spark",
                   choices=["spark", "postgres"],
                   help="dialect of the emitted DDL/DML artifacts: "
                        "executable Spark SQL (default) or the "
                        "reference's native Postgres output")
    args = p.parse_args(argv)

    tables, facts, defaults = parse_input(args.input)
    try:
        env = make_env(tables, facts, build_settings(args), defaults)
    except ValidationFailed as vf:
        for e in vf.errors:
            print(e, file=sys.stderr)
        return 1

    if not args.execute:
        # artifact generation is Spark-free (reference behavior)
        from .engine import write_artifacts

        write_artifacts(env, args.output, args.sql_dialect)
        print(f"artifacts written to {args.output} ({args.sql_dialect} dialect)")
        return 0

    if not (args.data and args.storage and args.time_upper):
        p.error("--execute requires --data, --storage and --time-upper")
    from .catalog import get_spark
    from .engine import Engine

    spark = get_spark("ringo-cli")
    eng = Engine(spark, env, args.storage, keep_versions=args.keep_versions,
                 salt_tenant_buckets=args.salt_tenant_buckets)
    eng.load_sources(args.data)
    if args.bucket_sources:
        bucketed = eng.bucketize_sources(num_buckets=args.bucket_sources)
        if bucketed:
            print(f"bucketed sources: {', '.join(bucketed)}")
    mode = PopulationMode(args.mode)
    upper = dt.datetime.fromisoformat(args.time_upper)
    lower = dt.datetime.fromisoformat(args.time_lower) if args.time_lower else None
    produced = eng.run(mode, upper, lower)
    eng.write_artifacts(args.output, args.sql_dialect)
    print(f"populated: {', '.join(produced)}")
    if args.publish_jdbc:
        opts = {"driver": args.jdbc_driver} if args.jdbc_driver else {}
        published = eng.publish_jdbc(args.publish_jdbc, mode=args.jdbc_mode,
                                     options=opts)
        print(f"published to jdbc: {', '.join(published)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
