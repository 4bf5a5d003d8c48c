"""spark-submit entrypoint for the full KG construction build.

The north rule's deployment shape is "run via spark-submit --py-files
on a multi-executor cluster"; this is that job. It is deliberately
cluster-agnostic: the session comes from ``getOrCreate()`` with NO
master/parallelism settings baked in, so every knob (master, executor
count/cores/memory, shuffle partitions, AQE) is owned by the
spark-submit command line — the same script runs unchanged on
local[N], YARN, or k8s. Mirrors the reference CLI's one-shot build
(`stakgraph --repo ... --output ...`, mcp/src/index.ts entry) as a
batch Spark job.

Packaging: ship the library with --py-files. ``scripts/make_pyfiles.sh``
zips ``stakgraph_spark/`` into ``dist/stakgraph_spark.zip``; Spark
adds the zip to every executor's (and the driver's) sys.path, which is
why the imports below are plain absolute imports resolved at runtime —
nothing assumes the repo checkout exists on the workers.

Usage (two cluster sizes, the north rule's scaling evidence):

    scripts/make_pyfiles.sh
    spark-submit --master local[8]  --py-files dist/stakgraph_spark.zip \\
        scripts/submit_build.py --input /root/testdata/sf0.1 --output /tmp/kg8
    spark-submit --master local[32] --py-files dist/stakgraph_spark.zip \\
        scripts/submit_build.py --input /root/testdata/sf0.1 --output /tmp/kg32

Outputs under --output: ``nodes/``, ``edges/``, ``triples/`` parquet
directories plus ``_build_manifest.json`` (row counts, elapsed,
config echo, and per table the rows, write seconds and Spark jobs of
its write and read-back) for downstream ingest / CI assertions.

Edges are written before triples whatever the ``--tables`` order, and
when both are written triples are projected from the stored edges, so
the edge union (and the transcript derivation inside it) is evaluated
once per job, not once per table.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--input", required=True,
                   help="scale-factor dir holding events.parquet (the "
                        "transcript source table)")
    p.add_argument("--output", required=True,
                   help="output dir; nodes/ edges/ triples/ parquet written here")
    p.add_argument("--pack", default=None,
                   help="dialect pack name (operators/dialects.py "
                        "DIALECT_PACKS key); default: builtin transcriptish")
    p.add_argument("--resume-dir", default=None,
                   help="checkpoint dir: build through ResumableBuilder "
                        "units so a killed job restarts where it stopped")
    p.add_argument("--tables", default="nodes,edges,triples",
                   help="comma list of outputs to write")
    p.add_argument("--output-table-prefix", default=None,
                   help="write through the DataSourceV2 writeTo() API to "
                        "<prefix>_nodes / _edges / _triples instead of parquet "
                        "dirs — the Iceberg production path when the submit "
                        "command line configures an Iceberg catalog "
                        "(--conf spark.sql.catalog....). --output still "
                        "receives the manifest JSON.")
    p.add_argument("--repartition-by-conv", action="store_true",
                   help="force a conv_id repartition up front (needed only "
                        "when the source is not already conv_id-clustered)")
    return p.parse_args(argv)


def write_table(spark, df, name: str, output: str, table_prefix: str | None):
    """Write ``df`` as output table ``name``; return the stored table."""
    # Output stays clustered by the build's conv_id-prefixed keys;
    # no terminal repartition — at 100 TB a coalesce here would
    # serialize the write, and downstream readers want many files.
    if table_prefix:
        # Iceberg production path: V2 writeTo against whatever
        # catalog the spark-submit line configured. createOrReplace
        # is the idempotent-rerun analog of overwrite; incremental
        # jobs use the MERGE path in sources/sinks.py instead.
        from pyspark.errors import AnalysisException

        tbl = f"{table_prefix}_{name}"
        try:
            # atomic replace where the catalog supports RTAS (Iceberg)
            df.writeTo(tbl).createOrReplace()
        except AnalysisException as e:
            # V2SessionCatalog (plain warehouse) has no RTAS:
            # non-atomic drop+create is the idempotent fallback. Any
            # other failure (a failed write included) must not drop
            # the existing table.
            if e.getCondition() != "UNSUPPORTED_FEATURE.TABLE_OPERATION":
                raise
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            df.writeTo(tbl).create()
        return spark.read.table(tbl)
    out = f"{output}/{name}"
    df.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)

    # Import AFTER arg parsing so `--help` works without the zip, and
    # so a missing --py-files fails with a clear module error.
    from pyspark.sql import SparkSession

    from stakgraph_spark.operators import materialize as M
    from stakgraph_spark.operators.dialects import DIALECT_PACKS
    from stakgraph_spark.plans.pipeline import build_graph
    from stakgraph_spark.sources.transcripts import read_transcripts

    spark = SparkSession.builder.appName("stakgraph-kg-build").getOrCreate()

    pack = None
    if args.pack is not None:
        try:
            pack = DIALECT_PACKS[args.pack]
        except KeyError:
            known = ", ".join(sorted(DIALECT_PACKS))
            print(f"unknown pack {args.pack!r}; known: {known}", file=sys.stderr)
            return 2
    wanted = [t.strip() for t in args.tables.split(",") if t.strip()]
    if args.resume_dir and pack is not None:
        print("--pack is not supported with --resume-dir (the unit "
              "manifests fingerprint inputs, not pack config)", file=sys.stderr)
        return 2

    t0 = time.time()
    if args.resume_dir:
        # Checkpointed path: per-unit manifests under --resume-dir make
        # the job restartable after a kill (streaming/incremental.py) —
        # completed conv_id-bucket units are skipped on re-submit when
        # their input fingerprint still matches.
        from stakgraph_spark.streaming.incremental import ResumableBuilder

        builder = ResumableBuilder(args.resume_dir)
        builder.run(spark, read_transcripts(spark, args.input))
        stages = {"nodes": builder.nodes(spark), "edges": builder.edges(spark)}
    else:
        stages = build_graph(spark, read_transcripts(spark, args.input),
                             repartition_by_conv=args.repartition_by_conv,
                             pack=pack)

    # triples last: once edges are stored, triples is a projection of
    # the stored table rather than a second run of the edge union
    wanted.sort(key=lambda t: t == "triples")
    sc = spark.sparkContext
    stored, writes = {}, {}
    for name in wanted:
        if name == "triples":
            df = M.triples(stored.get("edges", stages["edges"]))
        else:
            df = stages[name]
        group = f"write:{name}"
        sc.setJobGroup(group, group)
        w0 = time.time()
        stored[name] = write_table(spark, df, name, args.output, args.output_table_prefix)
        rows = stored[name].count()
        writes[name] = {"rows": rows, "write_s": round(time.time() - w0, 3),
                        "jobs": len(sc.statusTracker().getJobIdsForGroup(group))}

    manifest = {
        "input": args.input,
        "pack": args.pack,
        "tables": {name: w["rows"] for name, w in writes.items()},
        "writes": writes,
        "elapsed_sec": round(time.time() - t0, 3),
        "spark_master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }
    # driver-local manifest write (tiny JSON, not a dataset)
    import os

    os.makedirs(args.output, exist_ok=True)
    with open(f"{args.output}/_build_manifest.json", "w") as f:
        json.dump(manifest, f, indent=1)
    print(json.dumps(manifest))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
