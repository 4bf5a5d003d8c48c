"""spark-kg benchmark: one workload run, printed as one JSON line.

    python3 perfbench/run.py --workload submit_build_2k --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (DESIGN.md says why each):

* ``submit_build_2k``   ``scripts/submit_build.main()``: events ->
  nodes/edges/triples parquet, on a 2k-turn corpus (fixed-overhead bound).
* ``extract_link_100k`` the build's front half through the public
  operators (derive transcripts, extract mentions and requests, link
  mentions), written as parquet, on a 100k-turn corpus; it runs no
  materialize family.

Each run launches its own JVM and runs operations back to back, closed
loop, until ``--seconds`` have passed; the first operation in the fresh
JVM is what one spark-submit of the job pays, and is longer than the
window on both workloads.

Every output is checked against the DuckDB oracle (``oracle.py``) over
the same seeded corpus (``corpus.py``). ``--trace 0`` prints the
end-to-end metrics. ``--trace 1`` instead runs the build's layers one
at a time on the workload's corpus, inputs pinned, under the Spark
event log, checks the graph they write, and prints the per-layer
metrics.

All files the run writes go under ``perfbench/.work`` (cleared at the
start of every run) and ``perfbench/.cache`` (oracle digests).
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CACHE = os.path.join(HERE, ".cache", "oracle")

# name: (turns, conversations, tables written). Each table is checked
# against oracle query "kg_<table>". 2k turns keep sf0.1's 66.7 turns
# per conversation; 100k turns are sf0.1's turn count with 400 turns
# per conversation (DESIGN.md says why these sizes).
WORKLOADS = {
    "submit_build_2k": (2_000, 30, ("nodes", "edges", "triples")),
    "extract_link_100k": (100_000, 250, ("resolved", "requests")),
}
BUILD_TABLES = ("nodes", "edges", "triples")
LAYERS = (
    "sources.transcripts",
    "operators.extract",
    "operators.link",
    "operators.materialize.nodes",
    "operators.materialize.edges",
    "operators.materialize.triples",
    "sink",
)


def host() -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        ram_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {"cpus": cpus, "ram_mb": ram_kb // 1024}


def heap_mb(ram_mb: int) -> int:
    # an eighth of RAM, 1-8 GB: AlwaysPreTouch (the engine's default
    # JVM flag) makes the whole heap resident at launch
    return max(1024, min(8192, ram_mb // 8))


def parents() -> dict[int, int]:
    """{pid: parent pid} for every live process."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    out[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # exited while being read
    return out


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in parents().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def pss_kb(pid: int) -> int:
    """Proportional set size: shared pages (the forked Python workers
    share most of theirs) are split between the processes sharing them,
    so a sum over processes counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            return next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
    except (OSError, StopIteration):
        return 0


class RssSampler(threading.Thread):
    """Peak resident memory (summed PSS) of this process's descendants,
    the JVM and its Python workers, read every 0.2 s. The run's own
    process is left out: between operations it holds the benchmark's
    DuckDB checks."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._done = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._done.wait(0.2):
            self.peak_kb = max(self.peak_kb, sum(pss_kb(p) for p in descendants(me)))

    def stop(self) -> float:
        self._done.set()
        self.join(5)
        return self.peak_kb / 1024


class Spans:
    """Tracing spans kept in memory, written out once the run ends."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.items: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, parent: str | None = None):
        rec = {"trace": self.trace_id, "name": name, "parent": parent,
               "start": time.perf_counter()}
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_s"] = rec["end"] - rec["start"]
            self.items.append(rec)

    def wall(self, name: str) -> float:
        return next(s["wall_s"] for s in self.items if s["name"] == name)

    def self_time(self, name: str) -> float:
        """The span's wall minus the part its child spans cover."""
        return self.wall(name) - sum(s["wall_s"] for s in self.items if s["parent"] == name)


def reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def prepare_env(h: dict) -> None:
    """Session environment, set before pyspark is imported. Every path
    Spark, the JVM or Python may write to points into WORK."""
    tmp = reset_dir(os.path.join(WORK, "tmp"))
    local = reset_dir(os.path.join(WORK, "local"))
    os.environ.update({
        # UDF workers import stakgraph_spark from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(h["cpus"]),
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_WAREHOUSE": os.path.join(WORK, "warehouse"),
        "SPARK_DRIVER_MEM": f"{heap_mb(h['ram_mb'])}m",
        # no hsperfdata files in the system temp dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "TMPDIR": tmp,
    })
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "scripts"))


def phases_s(df) -> float:
    """Catalyst analysis + optimization + planning seconds of planning
    the DataFrame's query."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().values().iterator()
    ms = 0
    while it.hasNext():
        ms += it.next().durationMs()
    return ms / 1e3


def unit_of(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_mb", ".mb_written")):
        return "MB"
    if name.endswith(("busy_share", "task_skew")):
        return "ratio"
    return "count"


class Bench:
    def __init__(self, args: argparse.Namespace):
        self.args = args
        self.turns, self.convs, self.tables = WORKLOADS[args.workload]
        if args.trace:  # the traced run writes the whole graph
            self.tables = BUILD_TABLES
        self.host = host()
        self.spans = Spans(f"{args.workload}-{args.seed}")
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"FAIL {what}", file=sys.stderr)

    # --- session ----------------------------------------------------------
    def session(self, event_log: str | None = None):
        from stakgraph_spark.session import get_spark

        # SparkSession.builder options outlive a session: always set the event log
        conf = {"spark.ui.showConsoleProgress": "false", "spark.eventLog.enabled": "false"}
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + event_log,
                         "spark.eventLog.compress": "false"})
        return get_spark(master=f"local[{self.host['cpus']}]", extra_conf=conf)

    @staticmethod
    def stop_session() -> None:
        from pyspark.sql import SparkSession

        s = SparkSession.getActiveSession()
        if s is not None:
            s.stop()

    @staticmethod
    def shutdown_jvm() -> None:
        """Stop the session and the JVM; wait for both and the JVM's
        Python workers to exit."""
        if "pyspark" not in sys.modules:
            return
        from pyspark import SparkContext

        Bench.stop_session()
        gw = SparkContext._gateway
        if gw is None:
            return
        children = descendants(os.getpid())
        proc = gw.proc
        gw.shutdown()
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while children and time.monotonic() < deadline:
            children = [p for p in children if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        for p in children:
            with contextlib.suppress(ProcessLookupError):
                os.kill(p, 9)

    # --- inputs and oracle ------------------------------------------------
    def make_corpus(self) -> tuple[str, dict]:
        """The seeded corpus and the oracle digests of the tables the run
        writes. The oracle runs in a child process, so DuckDB's memory
        and threads are gone before the first timer starts."""
        from perfbench import corpus

        d = os.path.join(WORK, "corpus")
        shape = corpus.write_corpus(d, self.turns, self.convs, self.args.seed)
        out = os.path.join(WORK, "oracle.json")
        subprocess.run(
            [sys.executable, "-m", "perfbench.oracle", d, shape["input_digest"], out, CACHE,
             *(f"kg_{t}" for t in self.tables)],
            cwd=ROOT, check=True,
        )
        with open(out) as f:
            return d, dict(shape, oracle=json.load(f))

    # --- the workload's operation -------------------------------------------
    def setup(self, event_log: str | None = None):
        """Package import, JVM launch and session: what a fresh process
        pays before its first operation."""
        t0 = time.perf_counter()
        import pyspark  # noqa: F401
        import submit_build  # noqa: F401

        import stakgraph_spark.operators.link  # noqa: F401
        import stakgraph_spark.plans.pipeline  # noqa: F401

        spark = self.session(event_log)
        self.setup_s = time.perf_counter() - t0
        self.conf = dict(spark.sparkContext.getConf().getAll())

    def op_plans(self, spark, corpus_dir: str) -> dict:
        """The DataFrames the operation writes, as the engine plans them."""
        from stakgraph_spark.operators import extract as X
        from stakgraph_spark.operators import link as L
        from stakgraph_spark.plans.pipeline import build_graph
        from stakgraph_spark.sources.transcripts import read_transcripts

        tr = read_transcripts(spark, corpus_dir)
        if self.args.workload == "submit_build_2k":
            g = build_graph(spark, tr)
            return {t: g[t] for t in self.tables}
        # as build_graph defines them
        return {"resolved": L.link_mentions(spark, X.extract_mentions_raw(tr)),
                "requests": X.extract_requests(tr)}

    def run_op(self, corpus_dir: str, out: str) -> dict:
        """One operation on the current session; returns rows per table.
        The SparkContext is stopped afterwards (main() stops it itself)."""
        if self.args.workload == "submit_build_2k":
            import submit_build

            with contextlib.redirect_stdout(io.StringIO()):  # main() prints its manifest
                rc = submit_build.main(["--input", corpus_dir, "--output", out])
            if rc != 0:
                raise RuntimeError(f"submit_build.main exit code {rc}")
            with open(os.path.join(out, "_build_manifest.json")) as f:
                return json.load(f)["tables"]
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        counts = {}
        for table, df in self.op_plans(spark, corpus_dir).items():
            df.write.mode("overwrite").parquet(os.path.join(out, table))
            counts[table] = spark.read.parquet(os.path.join(out, table)).count()
        self.stop_session()
        return counts

    def one_op(self, name: str) -> dict | None:
        """One checked operation on the active session; None if it raised."""
        from pyspark import SparkContext

        SparkContext._active_spark_context.setJobGroup("op", self.args.workload)
        out = reset_dir(os.path.join(WORK, "out"))
        self.attempted += 1
        try:
            with self.spans.span(name) as span:
                counts = self.run_op(self.corpus[0], out)
        except Exception:
            traceback.print_exc()
            self.fail(f"{name} raised")
            self.failed += 1
            self.stop_session()
            return None
        finally:
            reset_dir(os.path.join(WORK, "local"))
        self.check(name, out, counts)
        return {"wall_s": span["wall_s"], "counts": counts}

    def check(self, name: str, out: str, counts: dict) -> None:
        from perfbench.oracle import check_outputs

        try:
            reasons = check_outputs(out, self.tables, counts, self.corpus[1]["oracle"])
        except Exception as e:  # unreadable output fails the check
            reasons = [f"check raised {e!r}"]
        for reason in reasons:
            self.fail(f"{name} {reason}")
        self.failed += bool(reasons)

    def measure(self) -> list[dict | None]:
        """Set up, then a closed loop with one client: operations back to
        back until --seconds have passed (at least one), each on a fresh
        SparkContext, each checked."""
        self.setup()
        ops = []
        deadline = time.perf_counter() + self.args.seconds
        while True:
            if ops:
                self.session()
            ops.append(self.one_op(f"op{len(ops)}"))
            if time.perf_counter() >= deadline:
                break
        return ops

    # --- traced layer sequence -----------------------------------------------
    def plan_metrics(self, spark) -> dict:
        """build_graph() wall (pure py4j plan building) and the Catalyst
        time to plan what the operation writes."""
        from stakgraph_spark.plans.pipeline import build_graph
        from stakgraph_spark.sources.transcripts import read_transcripts

        tr = read_transcripts(spark, self.corpus[0])
        t0 = time.perf_counter()
        build_graph(spark, tr)
        plan_s = time.perf_counter() - t0
        catalyst = sum(phases_s(df) for df in self.op_plans(spark, self.corpus[0]).values())
        return {"plans.pipeline.plan_s": plan_s, "spark.catalyst_s": catalyst}

    def staged_layers(self, spark) -> dict:
        """The build's public calls one layer at a time: each layer's
        outputs persisted and counted before the next starts, each
        layer's jobs under its own job group. The sink writes the graph
        to WORK/out as main() does; returns its read-back counts."""
        from stakgraph_spark.operators import extract as X
        from stakgraph_spark.operators import link as L
        from stakgraph_spark.operators import materialize as M
        from stakgraph_spark.sources.transcripts import read_transcripts

        sc = spark.sparkContext
        pinned, rows = [], {}

        def layer(name: str, build):
            sc.setJobGroup(name, name)
            with self.spans.span(name, parent="staged"):
                dfs = [df.persist() for df in build()]
                rows[name] = sum(df.count() for df in dfs)
            pinned.extend(dfs)
            return dfs

        out = reset_dir(os.path.join(WORK, "out"))
        ent = M.entity_nodes(spark)
        counts = {}
        with self.spans.span("staged"):
            (tr,) = layer("sources.transcripts", lambda: [read_transcripts(spark, self.corpus[0])])
            raw, req, fd = layer("operators.extract", lambda: [
                X.extract_mentions_raw(tr), X.extract_requests(tr), X.first_test_defs(tr)])
            (res,) = layer("operators.link", lambda: [L.link_mentions(spark, raw)])
            (nodes,) = layer("operators.materialize.nodes",
                             lambda: [M.build_nodes(spark, tr, ent, fd, req, None)])
            (edges,) = layer("operators.materialize.edges",
                             lambda: [M.build_edges(spark, tr, res, ent, fd, req, None)])
            (trip,) = layer("operators.materialize.triples", lambda: [M.triples(edges)])
            # the writes and read-backs main() issues, over pinned tables
            sc.setJobGroup("sink", "sink")
            with self.spans.span("sink", parent="staged"):
                for table, df in zip(BUILD_TABLES, (nodes, edges, trip)):
                    df.write.mode("overwrite").parquet(os.path.join(out, table))
                    counts[table] = spark.read.parquet(os.path.join(out, table)).count()
                rows["sink"] = sum(counts.values())
        for df in pinned:
            df.unpersist()
        files = [os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs if f.endswith(".parquet")]
        return {"rows": rows, "counts": counts, "out": out,
                "sink.mb_written": sum(os.path.getsize(f) for f in files) / 1e6,
                "sink.files": len(files)}

    def trace(self) -> dict:
        """The traced run: plan metrics, then the staged layers under the
        Spark event log; the outputs are checked like an operation's."""
        from perfbench.eventlog import EventLog

        log = os.path.join(WORK, "eventlog")
        self.setup(log)
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        m = self.plan_metrics(spark)
        staged = self.staged_layers(spark)
        self.stop_session()  # completes the event log
        self.attempted += 1
        self.check("staged", staged["out"], staged["counts"])
        events = EventLog(log)
        for name in LAYERS:
            m[f"{name}.wall_s"] = self.spans.wall(name)
            m[f"{name}.rows"] = staged["rows"][name]
            m[f"{name}.jobs"] = events.jobs(name)
            m[f"{name}.shuffle_mb"] = events.shuffle_mb(name)
        m["sink.mb_written"] = staged["sink.mb_written"]
        m["sink.files"] = staged["sink.files"]
        wall = self.spans.wall("staged")
        m.update(events.summary(wall, self.host["cpus"], "events.parquet"))
        m["trace.staged_wall_s"] = wall
        m["trace.staged_self_s"] = self.spans.self_time("staged")
        return m

    # --- the run --------------------------------------------------------------
    def run(self) -> dict:
        self.corpus = self.make_corpus()
        if self.args.trace:
            metrics = self.trace()
            ops = []
        else:
            rss = RssSampler()
            rss.start()
            ops = self.measure()
            peak = rss.stop()
            walls = [o["wall_s"] for o in ops if o is not None]
            if not walls:
                raise RuntimeError("no operation completed")
            build_s = statistics.median(walls)
            metrics = {
                "setup_s": self.setup_s,
                "build_s": build_s,
                "turns_per_s": self.turns / build_s,
                "peak_rss_mb": peak,
            }
        self.shutdown_jvm()
        artifact = {
            "workload": self.args.workload, "seed": self.args.seed, "trace": self.args.trace,
            "host": self.host, "corpus": self.corpus[1], "conf": self.conf,
            "duel": f"not run: host has {self.host['cpus']} CPUs",
            "attempted": self.attempted, "failures": self.failures,
            "ops": ops, "metrics": metrics, "spans": self.spans.items,
        }
        with open(os.path.join(WORK, "artifact.json"), "w") as f:
            json.dump(artifact, f, indent=1)
        print(f"host {self.host['cpus']} cpus {self.host['ram_mb']} MB RAM; corpus "
              f"{self.turns} turns {self.convs} conversations seed {self.args.seed}")
        for k, v in metrics.items():
            print(f"{k} {v:.6g} {unit_of(k)}")
        print(f"error_rate {self.failed / self.attempted:.6g} "
              f"({self.failed} failed / {self.attempted} attempted)")
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
        }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    for need in ("stakgraph_spark", "scripts/submit_build.py", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"engine source missing: {need}; run from a full checkout", file=sys.stderr)
            return 2
    reset_dir(WORK)
    bench = Bench(args)
    prepare_env(bench.host)
    try:
        result = bench.run()
    finally:
        Bench.shutdown_jvm()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
