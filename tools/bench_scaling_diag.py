"""Scaling diagnosis harness (r5): separate WHERE the 2->8 deficit of
the full KG job lives, and measure the HOST's own ceiling.

Three probes, each run in a fresh confined JVM at local[N]:

* ``host``   — a pure-long shuffle+agg with zero strings and zero
  Python: synthetic range -> repartition by key -> groupBy count ->
  count. If even THIS cannot scale 2->8 at >= 0.8 on this box, the
  single shared memory bus — not the engine's plan — is the ceiling
  for every shuffle-bearing stage (each executor of a real cluster
  has its own bus + NIC; the north rule's N vs 4N criterion is about
  that topology).
* ``link``   — extraction + mention linking, counted: the LSH banding
  + connected-components rounds, the suspected deficit.
* ``extract`` — extraction alone, counted: the Arrow-UDF stage that
  ``link`` runs first, so the difference of the two isolates linking.

Usage: python tools/bench_scaling_diag.py [n_files] [probe ...]
Prints one JSON line per (probe, cpus).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def probe_host(spark, n_files: int) -> int:
    n = max(10_000_000, n_files * 10)
    from pyspark.sql import functions as F

    df = (spark.range(n)
          .select((F.col("id") % 1_000_000).alias("k"),
                  F.col("id").alias("v")))
    return (df.groupBy("k").agg(F.sum("v").alias("s"),
                                F.count(F.lit(1)).alias("c"))
            .groupBy().agg(F.sum("s"), F.sum("c")).count())


def probe_link(spark, n_files: int) -> int:
    import bench
    from pyspark.sql import functions as F
    from rdf_tabular_spark.kg import extract, link

    src = spark.read.parquet(bench.ensure_kg_source(spark, n_files))
    ext = extract.extract_structures(src)
    mentions = ext.filter(F.col("kind").isin("import", "dep")).select(
        F.col("name").alias("mention"))
    return link.link_mentions(mentions, 0.55).count()


def probe_extract(spark, n_files: int) -> int:
    import bench
    from rdf_tabular_spark.kg import extract

    src = spark.read.parquet(bench.ensure_kg_source(spark, n_files))
    return extract.extract_structures(src).count()


PROBES = {"host": probe_host, "link": probe_link,
          "extract": probe_extract}


def main() -> None:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    names = [a for a in sys.argv[2:] if a in PROBES] or list(PROBES)
    for name in names:
        walls = {}
        for cpus in (2, 8):
            code = (
                "import sys, json, time; sys.path.insert(0, %r)\n"
                "sys.path.insert(0, %r)\n"
                "import bench\n"
                "from tools.bench_scaling_diag import PROBES\n"
                "spark = bench._mk_spark(%d, confine_jvm=True)\n"
                "t0 = time.time(); n = PROBES[%r](spark, %d)\n"
                "print(json.dumps({'n': n, 'wall': round(time.time()-t0, 1)}))\n"
                % (os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   cpus, name, n_files))
            r = subprocess.run([sys.executable, "-c", code],
                               capture_output=True, text=True)
            line = [ln for ln in r.stdout.splitlines()
                    if ln.startswith("{")]
            if not line:
                print(json.dumps({"probe": name, "cpus": cpus,
                                  "error": r.stderr[-300:]}))
                walls = None
                break
            walls[cpus] = json.loads(line[-1])["wall"]
            print(json.dumps({"probe": name, "cpus": cpus,
                              "wall_s": walls[cpus]}), flush=True)
        if walls:
            eff = (walls[2] / walls[8]) / 4
            print(json.dumps({"probe": name,
                              "efficiency_2_to_8": round(eff, 3)}),
                  flush=True)


if __name__ == "__main__":
    main()
