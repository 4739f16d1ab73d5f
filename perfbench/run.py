"""End-to-end RAG benchmark: interactive questions, ingest churn and
dashboard refresh over the engine's public functions.

    python3 perfbench/run.py --workload qa_single --seed 1 --seconds 1 --trace 0

Run from the repository root. Inputs are generated from --seed (and
cached per seed under perfbench/.work/cache); all run state lives under
perfbench/.work. One SparkSession from session.get_spark on
local[<cores>], one client thread, closed loop: each operation starts
after the previous one returned and was checked.

Workloads (perfbench/DESIGN.md records why, and what each metric
should respond to):
  qa_single  one question per answer() call
  qa_churn   cycles of append, delete and a batched answer() call
  dashboard  refresh of 12 admin panels over the event log

Untraced (--trace 0) the last stdout line carries the end-to-end
metrics; traced (--trace 1) it carries the per-layer metrics, and the
spans and self-time table go to perfbench/.work/traces/. Every operation's
output is checked; a wrong output counts as a failed operation.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import threading
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq

import checks
import gen
import spans
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("qa_single", "qa_churn", "dashboard")
DRIVER_MEMORY = "2g"
CHURN_QUESTIONS_LIVE = 4  # never-asked setup needles per churn batch
CHURN_NEEDLE_DELETES = 4  # setup needles deleted per cycle


def log(msg: str) -> None:
    print(msg, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(run_dir: str) -> None:
    """Keep Spark's and Python's scratch files inside the checkout, pin
    the session to local[<cores>] and the clock to UTC."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores()),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
            "TMPDIR": tmp,
            "TZ": "UTC",
            # spark-class's launcher JVM, then the driver JVM.
            "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYSPARK_SUBMIT_ARGS": (
                "--conf spark.ui.showConsoleProgress=false "
                f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} "
                f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
                "pyspark-shell"
            ),
        }
    )
    time.tzset()


_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def descendants() -> dict[int, tuple[int, float, int]]:
    """pid -> (rss_kb, cpu_s, start_ticks) of every live descendant of
    this process: the driver JVM, the Python daemon and the workers it
    forks. cpu_s is user plus system time, including that of reaped
    children."""
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if f[0] != "Z":
            procs[int(pid)] = (int(f[1]), int(f[21]) * _PAGE_KB, sum(map(int, f[11:15])) / _TICK, int(f[19]))
    me = os.getpid()
    out = {}
    for pid, (ppid, rss, cpu, start) in procs.items():
        while ppid and ppid != me:
            ppid = procs.get(ppid, (0,))[0]
        if ppid == me:
            out[pid] = (rss, cpu, start)
    return out


def cpu_seconds() -> float:
    return sum(cpu for _, cpu, _ in descendants().values())


def alive(pid: int, start: int) -> bool:
    """Whether pid still names the (non-zombie) process started at start."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return False
    return f[0] != "Z" and int(f[19]) == start


def stop_spark(grace_s: float = 30.0) -> None:
    """Stop the SparkContext, then the JVM py4j launched, and wait until
    it and every process it started (the Python daemon and its workers)
    has exited. The JVM otherwise outlives this process until it sees
    EOF on its stdin."""
    from pyspark import SparkContext

    children = descendants()
    gateway = SparkContext._gateway
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=grace_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + grace_s
        while children := {p: v for p, v in children.items() if alive(p, v[2])}:
            if time.monotonic() > deadline:
                for p in children:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except OSError:
                        pass
            time.sleep(0.05)


class RssMonitor:
    """Peak summed RSS of this process's descendants, sampled every
    100 ms; also the peak of the largest single one (the JVM)."""

    def __init__(self):
        self.peak_kb = 0
        self.peak_jvm_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False

    def _loop(self):
        while not self._stop.wait(0.1):
            rss = [r for r, _, _ in descendants().values()]
            self.peak_kb = max(self.peak_kb, sum(rss))
            self.peak_jvm_kb = max(self.peak_jvm_kb, max(rss, default=0))


class Bench:
    """One run: the session, the generated inputs and the store."""

    def __init__(self, args, run_dir: str):

        self.args = args
        self.run_dir = run_dir
        self.data, self.manifest = gen.cached(args.seed, os.path.join(WORK, "cache"))
        self.tally = checks.Tally()
        self.oracle: dict | None = None

    # -- session -------------------------------------------------------
    def start(self) -> float:
        t0 = time.perf_counter()
        from koby_s_ai_vector_db_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def host_facts(self) -> dict:
        import pyspark

        jvm = self.spark.sparkContext._jvm
        return {
            "nproc": cores(),
            "master": self.spark.sparkContext.master,
            "java": jvm.System.getProperty("java.version"),
            "pyspark": pyspark.__version__,
            "python": platform.python_version(),
        }

    # -- checked operations --------------------------------------------
    def load_pool(self) -> None:
        """The needle questions in a seeded order, plus what the checks
        need to know about each needle."""

        q = pq.read_table(os.path.join(self.data, "questions.parquet")).to_pylist()
        docs = pq.read_table(
            os.path.join(self.data, "documents.parquet"), columns=["doc_id", "source"]
        ).to_pydict()
        self.source = dict(zip(docs["doc_id"], docs["source"]))
        order = np.random.default_rng([self.args.seed, 5]).permutation(len(q))
        self.pool = [q[i] for i in order]
        self.base_ids = [d for d in docs["doc_id"] if not gen.is_needle_id(d)]

    def next_question(self) -> dict:
        if not self.pool:
            raise RuntimeError("question pool exhausted; raise gen.SIZES['needles']")
        return self.pool.pop()

    def questions_df(self, qs: list[dict]):
        return self.spark.createDataFrame(
            [(q["query_id"], q["query_text"], [float(x) for x in q["query_vec"]]) for q in qs],
            "query_id bigint, query_text string, query_vec array<double>",
        )

    def build_store(self, tr) -> None:
        import rag

        self.store = rag.Store(self.spark, os.path.join(self.run_dir, "store"))
        docs = self.spark.read.parquet(os.path.join(self.data, "documents.parquet"))
        vecs = self.spark.read.parquet(os.path.join(self.data, "vectors.parquet"))
        with tr.op("op.build"):
            rag.build(tr, self.store, docs, vecs)
        # The contributions arm's candidate cap must cover every needle
        # (all rated 5.0), or a needle could fall outside the candidates.
        self.contrib_cap = self.manifest["rows"]["questions"] + 100
        self.deleted: set[int] = set()
        self.next_doc_id = self.manifest["next_doc_id"]
        self.next_qid = self.manifest["next_query_id"]
        self.cycle = 0
        self.prev_appended: list[int] = []

    def ask(self, tr, qs: list[dict], gone: dict | None = None) -> tuple[float, bool]:
        """One answer() call over qs; returns (seconds, ok)."""
        import rag

        df = self.questions_df(qs + [g for g in (gone or {}).values()])
        t0 = time.perf_counter()
        with tr.op("op.answer"):
            out = rag.answer(tr, self.store, df, self.contrib_cap)
        dt = time.perf_counter() - t0
        targets = {
            q["query_id"]: (q["doc_id"], q["query_text"], self.source[q["doc_id"]])
            for q in qs
        }
        gone_t = {g["query_id"]: (g["doc_id"], g["query_text"]) for g in (gone or {}).values()}
        ok = self.tally.record(
            checks.check_answer(out, targets, gone_t, self.deleted, rag.CHUNK_ID_STRIDE)
        )
        return dt, ok

    def churn_cycle(self, tr) -> dict:
        """Append a batch, delete earlier documents, answer a batch that
        targets the appended needles, the deleted needles and never-asked
        live needles. Returns the phase times."""

        import rag

        docs_t, vecs_t, qs_t, next_id = gen.churn_batch(
            self.args.seed, self.cycle, self.next_doc_id, self.next_qid
        )
        inbox = os.path.join(self.run_dir, "inbox", str(self.cycle))
        os.makedirs(inbox)
        pq.write_table(docs_t, os.path.join(inbox, "documents.parquet"))
        pq.write_table(vecs_t, os.path.join(inbox, "vectors.parquet"))
        new_docs = self.spark.read.parquet(os.path.join(inbox, "documents.parquet"))
        new_vecs = self.spark.read.parquet(os.path.join(inbox, "vectors.parquet"))

        t0 = time.perf_counter()
        with tr.op("op.ingest"):
            n = rag.append(tr, self.store, new_docs, new_vecs)
        ingest_s = time.perf_counter() - t0
        self.tally.record(
            []
            if n == {"text": docs_t.num_rows, "pq": vecs_t.num_rows}
            else [f"append counted {n}, want {docs_t.num_rows} rows"]
        )

        rng = np.random.default_rng([self.args.seed, 6, self.cycle])
        gone = {}
        for _ in range(CHURN_NEEDLE_DELETES):
            q = self.next_question()
            gone[q["query_id"]] = q
        half = gen.SIZES["churn_deletes"] // 2
        older = self.prev_appended or self.base_ids
        victims = {q["doc_id"] for q in gone.values()}
        victims |= {
            int(d)
            for d in rng.choice([d for d in self.base_ids if d not in self.deleted], half, replace=False)
        }
        victims |= {
            int(d) for d in rng.choice([d for d in older if d not in self.deleted], half, replace=False)
        }
        ids = self.spark.createDataFrame([(d,) for d in sorted(victims)], "doc_id bigint")
        t0 = time.perf_counter()
        with tr.op("op.delete"):
            n = rag.delete(tr, self.store, ids)
        delete_s = time.perf_counter() - t0
        self.deleted |= victims
        self.tally.record(
            []
            if n == {"text": len(victims), "pq": len(victims)}
            else [f"delete counted {n}, want {len(victims)}"]
        )

        new_ids = docs_t.column("doc_id").to_pylist()
        sources = docs_t.column("source").to_pylist()
        self.source.update(zip(new_ids, sources))
        asked = qs_t.to_pylist() + [self.next_question() for _ in range(CHURN_QUESTIONS_LIVE)]
        answer_s, _ = self.ask(tr, asked, gone)

        self.prev_appended = [d for d in new_ids if not gen.is_needle_id(d)]
        self.next_doc_id, self.next_qid = next_id, self.next_qid + qs_t.num_rows
        self.contrib_cap += qs_t.num_rows
        self.cycle += 1
        return {"ingest": ingest_s, "delete": delete_s, "batch_answer": answer_s}

    # -- dashboard -----------------------------------------------------
    def compute_oracle(self) -> None:
        """Each panel's order-insensitive hash from its registered DuckDB
        oracle SQL over the same parquet files."""

        import rag
        from koby_s_ai_vector_db_spark import registry

        sqls = registry.oracle_sql()
        con = duckdb.connect()
        for t in ("documents", "events"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(self.data, t)}.parquet')"
            )
        self.oracle = {}
        for name in rag.PANELS:
            cur = con.execute(sqls[name])
            cols = [d[0] for d in cur.description]
            self.oracle[name] = checks.table_hash(cols, cur.fetchall())
        con.close()

    def refresh(self, tr) -> tuple[float, bool]:
        import rag

        if self.oracle is None:
            self.compute_oracle()
        t0 = time.perf_counter()
        with tr.op("op.refresh"):
            got = rag.refresh(tr, self.spark, self.data)
        dt = time.perf_counter() - t0
        return dt, self.tally.record(checks.check_panels(got, self.oracle))


def measure(args, b: Bench, start_s: float):
    """Set-up after the session start, the measured loop and, traced,
    the coverage pass. Returns (setup_s, samples, per_layer, facts,
    tracer)."""
    tr = spans.Tracer(b.spark) if args.trace else spans.Off()
    facts = b.host_facts()

    # Set-up: session start, then bulk ingest and both index builds.
    # There is no warm-up operation: the measured loop starts with
    # the first call in a fresh JVM (see DESIGN.md, "Cold first
    # operation").
    t0 = time.perf_counter()
    if args.workload != "dashboard":
        b.build_store(tr)
    setup_s = start_s + (time.perf_counter() - t0)

    tr.phase = "measure"
    samples: dict[str, list[float]] = {}
    deadline = time.perf_counter() + args.seconds
    while not samples or time.perf_counter() < deadline:
        cpu0 = cpu_seconds()
        if args.workload == "qa_single":
            dt, _ = b.ask(tr, [b.next_question()])
            phases = {"answer": dt}
        elif args.workload == "qa_churn":
            phases = b.churn_cycle(tr)
            dt = sum(phases.values())
        else:
            dt, _ = b.refresh(tr)
            phases = {"refresh": dt}
        for name, v in phases.items():
            samples.setdefault(name, []).append(v)
        samples.setdefault("op", []).append(dt)
        samples.setdefault("op_cpu", []).append(cpu_seconds() - cpu0)

    per_layer = {}
    if args.trace:
        # Coverage pass: the layers the workload itself does not
        # touch, so every per-layer metric is measured in every
        # workload's traced run.
        if args.workload == "dashboard":
            tr.phase = "setup"
            b.build_store(tr)
            tr.phase = "coverage"
            b.ask(tr, [b.next_question()])
        else:
            tr.phase = "coverage"
            b.refresh(tr)
        if args.workload != "qa_churn":
            tr.phase = "churn"
            b.churn_cycle(tr)
        tr.resolve_jobs()
        per_layer = tr.layer_metrics()
        per_layer["session.get_spark.start_s"] = start_s
        per_layer["perfbench.trace.op_s"] = stats.p50(samples["op"])
        per_layer.update(b.store.counts())
    return setup_s, samples, per_layer, facts, tr


def run(args) -> dict:
    """Set up, measure for args.seconds, check. Returns the result."""
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    prepare_env(run_dir)
    b = Bench(args, run_dir)
    b.load_pool()
    if args.workload == "dashboard":
        b.compute_oracle()

    with RssMonitor() as rss:
        try:
            start_s = b.start()
            measured = measure(args, b, start_s)
        finally:
            stop_spark()
    setup_s, samples, per_layer, facts, tr = measured

    result = {
        "setup_s": setup_s,
        "start_s": start_s,
        "peak_rss_mb": rss.peak_kb / 1024.0,
        "peak_jvm_rss_mb": rss.peak_jvm_kb / 1024.0,
        "samples": samples,
        "per_layer": per_layer,
        "facts": facts,
        "attempted": b.tally.attempted,
        "failed": b.tally.failed,
        "problems": b.tally.problems,
        "sizes": b.manifest["rows"],
    }
    # The untraced op time of the same workload and seed, if a run left
    # one, gives the tracing overhead.
    plain = os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}.json")
    if args.trace:
        if os.path.exists(plain):
            with open(plain) as fh:
                untraced = json.load(fh)["op_p50_s"]
            result["overhead_ratio"] = per_layer["perfbench.trace.op_s"] / untraced
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        tr.dump(path, {"facts": facts, "per_layer": per_layer, "overhead_ratio": result.get("overhead_ratio")})
        result["trace_file"] = os.path.relpath(path, ROOT)
        result["self_time"] = tr.self_times()
    else:
        os.makedirs(os.path.dirname(plain), exist_ok=True)
        with open(plain, "w") as fh:
            json.dump({"op_p50_s": stats.p50(samples["op"])}, fh)
    shutil.rmtree(run_dir, ignore_errors=True)
    return result


def report(args, res: dict) -> dict:
    """Print the human-readable report; return the metrics object."""

    s = res["samples"]
    log(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    log(f"# host {json.dumps(res['facts'])}")
    log(f"# inputs {json.dumps(res['sizes'])}")
    names = {
        "qa_single": {"answer": "answer"},
        "qa_churn": {"ingest": "ingest", "delete": "delete", "batch_answer": "batch_answer"},
        "dashboard": {"refresh": "refresh"},
    }[args.workload]
    for key, label in names.items():
        v = s.get(key, [])
        log(f"{label}_p50_s = {stats.p50(v):.4f} s  (n={len(v)}: {', '.join(f'{x:.3f}' for x in v)})")
        if args.workload == "qa_single":
            t = stats.tail(v)
            log(
                f"{label}_tail_s = "
                + (f"{t[1]:.4f} s  (p{t[0]:.0f}, n={len(v)})" if t else f"undefined  (n={len(v)} < 11)")
            )
    cpu = s["op_cpu"]
    log(f"op_cpu_s = {stats.p50(cpu):.4f} s  (n={len(cpu)}: {', '.join(f'{x:.3f}' for x in cpu)})")
    log(f"setup_s = {res['setup_s']:.4f} s  (n=1, session start {res['start_s']:.3f} s)")
    log(f"peak_rss_mb = {res['peak_rss_mb']:.1f} MB  (largest process {res['peak_jvm_rss_mb']:.1f} MB)")
    ratio = res["failed"] / res["attempted"]
    log(f"failed_ratio = {ratio:.4f}  ({res['failed']}/{res['attempted']})")
    for p in res["problems"][:20]:
        log(f"# FAILED CHECK: {p}")
    if args.trace:
        log(f"# spans: {res['trace_file']}")
        log(f"# {'layer':58s} {'calls':>5s} {'total_s':>9s} {'self_s':>9s}")
        for name, row in sorted(res["self_time"].items(), key=lambda kv: -kv[1]["self_s"]):
            log(f"# {name:58s} {row['calls']:5d} {row['total_s']:9.3f} {row['self_s']:9.3f}")
        if "overhead_ratio" in res:
            log(f"# tracing overhead: traced op / untraced op (same seed) = {res['overhead_ratio']:.3f}")
        else:
            log("# tracing overhead: run the same seed with --trace 0 first to compare")
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)["per_layer"]
        missing = [m["name"] for m in spec if m["name"] not in res["per_layer"]]
        if missing:
            raise RuntimeError(f"per-layer metrics not measured: {missing}")
        return {
            m["name"]: {"value": res["per_layer"][m["name"]], "unit": m["unit"]} for m in spec
        }
    return {
        "op_p50_s": {"value": stats.p50(s["op"]), "unit": "s"},
        "setup_s": {"value": res["setup_s"], "unit": "s"},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # A TERM unwinds like an exception, so the JVM and its workers are
    # stopped on the way out.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path.insert(0, ROOT)
    try:
        import koby_s_ai_vector_db_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine package not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    res = run(args)
    metrics = report(args, res)
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
