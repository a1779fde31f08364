"""Load generator for the CDC ingest benchmark.

Runs in its own process so that its JVM dies with it: the parent
benchmark never shares a Spark session with the generator, and a
generator that leaves its JVM behind cannot tax the measured run.

    python3 perfbench/gen.py --out DIR --seed N --keys K --epochs E \
        --epoch-events M

Writes, under DIR:
  base/                    the lake bootstrap snapshot (``gen_repos``)
  events/epoch=<k>/        the change-event log, one directory per epoch
                           (``gen_events``), the only input the program sees
  jvm.pid                  the generator's JVM, written as soon as it runs
  gen.json                 the generator's wall time

``base/`` is complete (its ``_SUCCESS`` marker exists) before the events
are written, so the lake can be bootstrapped while the log is generated.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

# cores for the generator's local[] master and its shuffle partitions: it
# runs beside the program's start-up and must leave that most of the cores
GEN_CPUS = 2


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--keys", type=int, required=True)
    ap.add_argument("--epochs", type=int, required=True)
    ap.add_argument("--epoch-events", type=int, required=True)
    args = ap.parse_args()

    root = os.getcwd()
    sys.path.insert(0, root)
    from bcdc2bcdc_spark.generator import gen_events, gen_repos
    from bcdc2bcdc_spark.session import get_spark

    t0 = time.perf_counter()
    # C1-only JIT: the generator's JVM is short-lived and shares the cores
    # with the program's start-up; its output does not depend on the JIT
    opts = f"-XX:TieredStopAtLevel=1 -XX:-UsePerfData -Djava.io.tmpdir={tempfile.gettempdir()}"
    spark = get_spark("perfbench-gen", master=f"local[{GEN_CPUS}]", shuffle_partitions=GEN_CPUS,
                      extra_conf={"spark.driver.extraJavaOptions": opts})
    proc = spark.sparkContext._gateway.proc
    # the parent waits for this JVM after this process exits, however it exits
    os.makedirs(args.out, exist_ok=True)
    with open(os.path.join(args.out, "jvm.pid"), "w") as fh:
        fh.write(str(proc.pid))
    try:
        gen_repos(spark, n_keys=args.keys, seed=args.seed).write.parquet(
            os.path.join(args.out, "base")
        )
        events = gen_events(
            spark,
            n_events=args.epochs * args.epoch_events,
            n_keys=args.keys,
            n_epochs=args.epochs,
            seed=args.seed,
        )
        events.write.partitionBy("epoch").parquet(os.path.join(args.out, "events"))
    finally:
        spark.stop()
    with open(os.path.join(args.out, "gen.json"), "w") as fh:
        json.dump({"gen_s": time.perf_counter() - t0}, fh)
    # closing the gateway's stdin is what makes the JVM exit; wait for it
    proc.stdin.close()
    proc.wait(timeout=60)


if __name__ == "__main__":
    main()
