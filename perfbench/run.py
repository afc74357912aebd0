"""Repository benchmark: the paper's ETL over a seeded OEDI-shaped lake,
and the paper's saved queries as a one-client analyst loop.

    python3 perfbench/run.py --workload etl_lake --seed 1 --seconds 12 --trace 0

Run from the repository root. Workloads:

- ``etl_lake``: back-to-back ``pipeline.run_etl`` calls (a closed
  loop, one caller) over a seeded lake of one-building files with one
  planted corrupt file; catalog registration on; each call writes to a
  fresh output root.
- ``saved_query_loop``: one client issuing the three saved queries
  (``plans/saved_queries.sql``) with seeded parameters, each call
  waiting for the previous answer, against the catalog one set-up
  ``run_etl`` registered.

Every operation's output is checked outside the timed region (ETL
accounting against the generator's counts; query answers against
DuckDB). The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` - the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. See
``BENCHMARK.json`` for what each metric means and which layer metric
should move which end-to-end metric.

Everything the run writes goes under ``perfbench-work/`` in the
repository root and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import resource
import shutil
import subprocess
import sys
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "nbi_oedi_etl_v2_spark"
DRIVER_MEM = "2g"


def pin_environment(work: str) -> None:
    """One process on all of this machine's cores, scratch dirs inside
    ``work``. Must run before the package is imported: its session
    module reads ``SPARK_GRAFT_CPUS`` at import."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts, the launcher included; without
    # -XX:-UsePerfData each writes /tmp/hsperfdata_<user>/<pid>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    tempfile.tempdir = tmp


def import_package():
    sys.path.insert(0, ROOT)
    import nbi_oedi_etl_v2_spark as pkg

    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"perfbench: {PACKAGE} imported from outside {ROOT}")


class Harness:
    """Session lifecycle, the tracer, and what every workload shares."""

    def __init__(self, work: str, seed: int, trace: bool) -> None:
        from spans import Tracer

        self.work, self.seed, self.trace = work, seed, trace
        self.tracer = Tracer()
        self.exchanges: dict[int, int] = {}  # root span id -> Exchange nodes
        self.spark = None
        self.event_dir = os.path.join(work, "eventlog")
        os.makedirs(self.event_dir)

    def start_spark(self):
        from nbi_oedi_etl_v2_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # a fixed heap size: peak RSS then tracks pages the program
            # touches, not when the collector chose to grow the heap
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            })
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("OFF")
        self.tracer.bind(self.spark.sparkContext)
        return self.spark

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as fh:
            kb += int(re.search(r"VmHWM:\s+(\d+)", fh.read()).group(1))
        return kb / 1024

    def stop_spark(self) -> str | None:
        """Stop the SparkContext; return its event log path."""
        if self.spark is None:
            return None
        app = self.spark.sparkContext.applicationId
        self.spark.stop()
        self.spark = None
        return os.path.join(self.event_dir, app)

    def shutdown(self) -> None:
        """Stop Spark and its JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        self.stop_spark()
        gw = SparkContext._gateway
        if gw is None:
            return
        gw.shutdown()
        gw.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gw.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("etl_lake", "saved_query_loop"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "pipeline.py")):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2

    os.chdir(ROOT)  # the lake's metadata root is given relative to it
    work = os.path.join(ROOT, "perfbench-work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    h = result = None
    try:
        pin_environment(work)
        import_package()
        import workloads

        h = Harness(work, args.seed, bool(args.trace))
        result = workloads.run(h, args.workload, args.seconds)
    except Exception:
        traceback.print_exc()
    finally:
        if h is not None:
            h.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    if result is None:
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
