"""spark-submit entry point: edge-pair text → adjacency-list text.

Mirrors the reference's third job (`ConvertPairsToAdjacencyList`,
ConvertNodeLinksToAdjacencyList.scala:26-47) Spark-first: SQL string
functions parse the pairs, and the engine's adjacency builder
(operators/adjacency.py ``build_adjacency``, a partial-aggregable
collect_list instead of groupByKey) groups them.

    spark-submit --py-files dist/engine.zip bin/convert_pairs.py \
        --input pairs.txt [--output out_dir]

Default output path derives from the input like the reference's
``foo.txt`` → ``foo_adjacencyList`` (ConvertNodeLinksToAdjacencyList.scala:34).
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="text file of 'src dst' lines")
    ap.add_argument("--output", default=None)
    args = ap.parse_args()
    out = args.output or (args.input.rsplit(".", 1)[0] + "_adjacencyList")

    spark = SparkSession.builder.appName("convert-pairs").getOrCreate()

    from montecarlopagerank_spark.operators.adjacency import build_adjacency
    from montecarlopagerank_spark.sources.adjacency_text import write_adjacency_text

    lines = spark.read.text(args.input)
    toks = F.split(F.trim(F.col("value")), r"\s+")
    pairs = lines.filter(F.length(F.trim("value")) > 0).select(
        F.element_at(toks, 1).cast("long").alias("src"),
        F.element_at(toks, 2).cast("long").alias("dst"),
    )
    write_adjacency_text(build_adjacency(pairs), out)
    print(out)
    spark.stop()


if __name__ == "__main__":
    main()
