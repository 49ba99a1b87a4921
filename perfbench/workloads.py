"""The three workloads and the measurement loop.

One run = one process, one client, ``local[nproc]``:

1. generate (or reuse) the seeded inputs and the DuckDB reference
   answers, untimed;
2. set up ``SETUPS`` times: ``get_spark`` plus ``load_table`` of the
   workload's tables; every set-up after the first stops and rebuilds
   the session in the same JVM, and ``setup_s`` is their median;
3. the check pass: every op once, cold, with its output collected and
   compared to the reference (ops that fail or differ count as failed);
4. untimed warm-up passes, run like the timed ones, for ``WARMUP_S``
   seconds (at least one pass), so the JIT has compiled the hot paths
   before timing starts;
5. timed passes over the ops for ``seconds`` (at least ``MIN_PASSES``),
   each op timed from outside through spans.

Spans are always kept (they are the timers). A traced run also tags
Spark job groups with span ids, writes the Spark event log, and polls
block-manager storage and the lake scratch directory after each op;
its metrics are the per-layer ones.
"""

from __future__ import annotations

import gc
import glob
import os
import shutil
import signal
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass

import numpy as np

from perfbench import check, gen
from perfbench.trace import JOB_KEYS, Tracer, layer_times, parse_event_log, subtree


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "lens" | "query" | "lake"
    data: tuple[str, float]  # generator (kind, size)
    tables: tuple[str, ...]  # loaded at set-up
    ops: tuple[str, ...] = ()  # registry query names


WORKLOADS = {
    w.name: w
    for w in (
        Workload("lens_interactive", "lens", ("trace", 0.3), ("events",)),
        Workload(
            "llm_pipeline", "query", ("star", 0.01), ("documents", "embeddings"),
            ("dedup_minhash_lsh", "dedup_semantic_semdedup"),
        ),
        Workload(
            "lake_incremental", "lake", ("star", 0.01), ("orders",),
            ("lake_merge_upsert",),
        ),
    )
}

CLICKS_PER_PASS = 16
CLICK_ROWS = 100
SETUPS = 5
WARMUP_S = 3.0
MIN_PASSES = 2  # timed passes, however short ``seconds`` is
STOP_TIMEOUT_S = 60.0  # then the JVM and workers still alive are killed
KEEP_DATASETS = 3  # cached generator outputs kept per kind


def percentile(values, q: float) -> float:
    """Nearest-rank percentile: the smallest value with at least
    ``q`` percent of the values at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    rank = max(1, -(-len(xs) * q // 100))  # ceil(n * q / 100)
    return xs[int(rank) - 1]


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _pct(xs, q: float) -> float:
    return percentile(xs, q) if xs else 0.0


def prune_cache(root: str, kind: str, keep: int = KEEP_DATASETS) -> None:
    dirs = sorted(glob.glob(os.path.join(root, f"{kind}-seed*")), key=os.path.getmtime)
    for d in dirs[:-keep]:
        shutil.rmtree(d, ignore_errors=True)


def process_tree() -> list[int]:
    """This process and all its descendants (the driver JVM and the
    Python workers), from /proc."""
    parent: dict[int, int] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    tree, frontier = [os.getpid()], [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        tree.extend(kids)
        frontier.extend(kids)
    return tree


def _proc_state(pid: int) -> tuple[str, str] | None:
    """(state, start time) of a live process, None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return fields[0], fields[19]


def stop_spark(spark) -> None:
    """Stop the session, end the driver JVM and wait until it and every
    process it started (the Python workers) have exited.

    PySpark leaves the JVM running until it notices, after this process
    has exited, that its stdin is closed; it would outlive the run."""
    from pyspark import SparkContext

    started = {pid: _proc_state(pid) for pid in process_tree()[1:]}
    try:
        if spark is not None:
            spark.stop()
    finally:
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            if proc.poll() is None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(STOP_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        # workers re-parented when the JVM ended are waited for here
        deadline = time.time() + STOP_TIMEOUT_S
        for pid, state in started.items():
            while state is not None:
                now = _proc_state(pid)
                if now is None or now[0] in "ZX" or now[1] != state[1]:
                    break
                if time.time() > deadline:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        break
                time.sleep(0.05)


class RssSampler(threading.Thread):
    """Resident memory of the process tree, sampled from /proc."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.samples: list[tuple[float, int]] = []  # (epoch s, bytes)
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for pid in process_tree():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.samples.append((time.time(), self._tree_rss()))
            self._stop_evt.wait(self.interval)

    def peak(self, start: float, end: float) -> int:
        return max((b for t, b in self.samples if start <= t <= end), default=0)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


class Run:
    """One benchmark run of one workload."""

    def __init__(self, workload: Workload, seed: int, seconds: float,
                 trace: bool, work_dir: str):
        self.w, self.seed, self.seconds, self.traced = workload, seed, seconds, trace
        self.work = work_dir
        self.tracer = Tracer()
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.storage: list[dict] = []  # traced: persisted RDDs after each op
        self.lake_io: list[dict] = []  # traced: scratch-dir growth per op
        self.log_dir = os.path.join(work_dir, "eventlog", f"{os.getpid()}")
        self.spark = None

    # ------------------------------------------------------------ inputs

    def prepare_inputs(self) -> None:
        t0 = time.perf_counter()
        kind, size = self.w.data
        data_root = os.path.join(self.work, "data")
        self.data_dir, self.manifest = gen.dataset(data_root, kind, self.seed, size)
        prune_cache(data_root, kind)
        from etl_lens_spark.queries import BENCH_SETUP, REGISTRY, _load

        _load()
        self.registry, self.bench_setup = REGISTRY, BENCH_SETUP
        con = check.connect(self.data_dir, self.w.tables if self.w.kind == "lens" else check.TABLES)
        if self.w.kind == "lens":
            self.exp_catalog = check.expect_catalog(con)
            self.exp_clicks = check.expect_clicks(con, CLICK_ROWS)
        else:
            self.expected = {
                n: check.expect_query(con, REGISTRY[n].oracle)
                for n in self.w.ops if REGISTRY[n].oracle
            }
            if "dedup_minhash_lsh" in self.w.ops:
                self.texts = dict(con.sql("SELECT doc_id, text FROM documents").fetchall())
        con.close()
        self.inputs_s = time.perf_counter() - t0

    # ------------------------------------------------------------ session

    def setup(self) -> None:
        from etl_lens_spark import get_spark
        from etl_lens_spark.sources.tables import load_table

        t = self.tracer
        if self.spark is not None:
            t.sc = None
            self.spark.stop()
        with t.span("setup"):
            with t.span("session.get_spark"):
                # a fixed heap and young generation: with G1 sizing them
                # adaptively, peak RSS followed GC timing (±20% between
                # runs) rather than what the workload keeps in memory
                heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
                conf = {
                    "spark.ui.showConsoleProgress": "false",
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
                        f"-Xms{heap} -Xmn512m",
                }
                if self.traced:
                    os.makedirs(self.log_dir, exist_ok=True)
                    conf.update({
                        "spark.eventLog.enabled": "true",
                        "spark.eventLog.dir": "file://" + self.log_dir,
                        "spark.eventLog.compress": "false",
                        "spark.eventLog.rolling.enabled": "false",
                    })
                self.spark = get_spark(app_name=f"perfbench-{self.w.name}", extra_conf=conf)
            if self.traced:
                t.sc = self.spark.sparkContext
                t._tag(t._stack[-1])
            for name in self.w.tables:
                with t.span(f"sources.load_table:{name}"):
                    load_table(self.spark, self.data_dir, name).schema

    # ------------------------------------------------------------ ops

    def _noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def _attempt(self, label: str, fn) -> None:
        self.attempted += 1
        try:
            fn()
        except Exception as e:  # one failed op must not end the run
            self.failed += 1
            self.errors.append(f"{label}: {type(e).__name__}: {str(e)[:300]}")
        if self.traced:
            self._poll_storage(label)

    def _run_query(self, name: str, checking: bool) -> None:
        t, spark, d = self.tracer, self.spark, self.data_dir
        with t.span(f"op:{name}"):
            # the check runs the registry callable (what the oracle
            # describes); timed lake passes run its commit/refresh split
            if self.w.kind == "lake" and not checking:
                with t.span("lake.prepare"):
                    thunk = self.bench_setup[name](spark, d)
                with t.span("queries.construct"):
                    df = thunk()
            else:
                with t.span("queries.construct"):
                    df = self.registry[name].fn(spark, d)
            with t.span("queries.action"):
                if not checking:
                    self._noop(df)
                elif name == "dedup_minhash_lsh":
                    check.compare_minhash(
                        df.collect(), self.texts, self.manifest["near_dup_pairs"]
                    )
                else:
                    check.compare_query(df, self.expected[name])

    def _open_trace(self):
        from etl_lens_spark.catalog import build_catalog
        from etl_lens_spark.sources.tables import load_table

        t = self.tracer
        with t.span("op:open"):
            with t.span("sources.load_table:events"):
                events = load_table(self.spark, self.data_dir, "events")
            with t.span("catalog.build_catalog"):
                rows = build_catalog(events).collect()
        return events, rows

    def _click(self, events, event_type: str) -> None:
        from etl_lens_spark.catalog import per_type_query

        with self.tracer.span("op:click", event_type=event_type) as s:
            with self.tracer.span("catalog.per_type_query"):
                rows = per_type_query(events, event_type, CLICK_ROWS).collect()
        s.attrs["rows"] = len(rows)
        check.compare_click(rows, self.exp_clicks[event_type])

    def _click_types(self, catalog_rows) -> list[str]:
        """The run's seeded click list, clicked once per pass: half its
        types drawn by event count (hot), half uniformly over the
        catalog (mostly rare types)."""
        rows = sorted(catalog_rows, key=lambda r: r.event_type)
        names = [r.event_type for r in rows]
        counts = np.array([r.n_events for r in rows], dtype=float)
        rng = np.random.default_rng([self.seed, 3])
        half = CLICKS_PER_PASS // 2
        hot = rng.choice(len(names), half, p=counts / counts.sum())
        rare = rng.integers(0, len(names), CLICKS_PER_PASS - half)
        return [names[i] for i in rng.permutation(np.concatenate([hot, rare]))]

    def _lens_pass(self, clicks: list[str]) -> None:
        state = {}

        def open_():
            state["events"], state["rows"] = self._open_trace()
            check.compare_catalog(state["rows"], self.exp_catalog)

        self._attempt("open", open_)
        if "events" not in state:
            return
        if not clicks:
            clicks.extend(self._click_types(state["rows"]))
        for et in clicks:
            self._attempt(f"click {et}", lambda: self._click(state["events"], et))

    def _pass(self, checking: bool, clicks: list[str], label: str = "pass") -> None:
        with self.tracer.span("check" if checking else label):
            if self.w.kind == "lens":
                self._lens_pass(clicks)
                return
            for name in self.w.ops:
                self._attempt(name, lambda: self._run_query(name, checking))

    # ------------------------------------------------------------ traced polls

    def _poll_storage(self, op: str) -> None:
        from etl_lens_spark.sources.sinks import SCRATCH_DIR

        sc = self.spark.sparkContext
        infos = {i.id(): i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo()}
        ids = set(int(k) for k in sc._jsc.getPersistentRDDs().keySet())
        self.storage.append({"op": op, "span": self.tracer.spans[-1].id,
                             "ids": sorted(ids), "bytes": infos})
        files = {}
        for dirpath, _, names in os.walk(SCRATCH_DIR):
            for n in names:
                p = os.path.join(dirpath, n)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                files[p] = (st.st_size, st.st_mtime_ns)
        self.lake_io.append({"op": op, "span": self.tracer.spans[-1].id, "files": files})

    # ------------------------------------------------------------ run

    def execute(self) -> None:
        t = self.tracer
        clicks: list[str] = []
        with t.span("run"):
            # every set-up after the first restarts the session, which
            # also ends the Python workers: set up first, then warm up
            for _ in range(SETUPS):
                self.setup()
            self._pass(True, clicks)
            deadline = time.time() + WARMUP_S
            while True:
                self._settle()
                self._pass(False, clicks, label="warmup")
                if time.time() >= deadline:
                    break
            deadline = time.time() + self.seconds
            n = 0
            while n < MIN_PASSES or time.time() < deadline:
                self._settle()
                self._pass(False, clicks)
                n += 1

    def _settle(self) -> None:
        """Untimed, before each pass: collect garbage in Python and in
        the driver JVM, so every pass starts from a similar heap."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def cleanup(self) -> None:
        from etl_lens_spark.sources.sinks import SCRATCH_DIR

        shutil.rmtree(SCRATCH_DIR, ignore_errors=True)
        shutil.rmtree(self.log_dir, ignore_errors=True)

    # ------------------------------------------------------------ metrics

    def e2e(self) -> tuple[dict, dict]:
        """End-to-end metrics, plus the detail (workload-named
        figures and sample counts)."""
        sp = self.tracer.spans
        passes = [s for s in sp if s.name == "pass"]
        timed = subtree(sp, [p.id for p in passes])
        setups = [s.dur for s in sp if s.name == "setup"]
        # op latency samples by kind: clicks on lens, refreshes (answer
        # thunk + noop sink) on lake, each query elsewhere
        by_kind: dict[str, list[float]] = {}
        refresh: dict[int, float] = {}
        for s in timed:
            if self.w.kind == "lake":
                if s.name in ("queries.construct", "queries.action"):
                    refresh[s.parent] = refresh.get(s.parent, 0.0) + s.dur
            elif s.name.startswith("op:") and s.name != "op:open":
                by_kind.setdefault(s.name, []).append(s.dur)
        for op_id, dur in refresh.items():
            by_kind.setdefault(sp[op_id].name, []).append(dur)
        ops = [d for v in by_kind.values() for d in v]
        metrics = {
            "setup_s": (_median(setups), "s"),
            "pass_s": (_median(p.dur for p in passes), "s"),
            "op_p50_s": (_median(_median(v) for v in by_kind.values()), "s"),
            "peak_rss_mb": (_median(self.rss.peak(p.start, p.end) for p in passes) / 2**20, "MB"),
        }
        named = {}
        if self.w.kind == "lens":
            opens = [s.dur for s in timed if s.name == "catalog.build_catalog"]
            named = {"catalog_s": _median(opens),
                     "click_p50_s": _pct(ops, 50),
                     "click_p90_s": _pct(ops, 90)}
        elif self.w.kind == "lake":
            commits = [s.dur for s in timed if s.name == "lake.prepare"]
            named = {"commit_s": sum(commits) / max(1, len(passes)), "refresh_s": sum(ops) / max(1, len(passes))}
        else:
            named = {"pipeline_pass_s": metrics["pass_s"][0]}
        named["error_rate"] = self.failed / max(1, self.attempted)
        op_samples: dict[str, list[float]] = {}
        for s in timed:
            if s.name.startswith("op:"):
                op_samples.setdefault(s.name[3:], []).append(round(s.dur, 4))
        phases = {s.name: round(s.dur, 3) for s in sp if s.name == "check"}
        phases["warmup"] = round(sum(s.dur for s in sp if s.name == "warmup"), 3)
        phases["timed"] = round(sum(p.dur for p in passes), 3)
        phases["inputs"] = round(self.inputs_s, 3)
        detail = {"detail": "perfbench", "workload": self.w.name, "seed": self.seed,
                  "phases_s": phases, "passes": len(passes),
                  "pass_s_all": [round(p.dur, 4) for p in passes],
                  "op_s_all": op_samples, "ops_timed": len(ops), "setups": len(setups),
                  "workload_metrics": named, "errors": self.errors[:5],
                  "inputs": {k: v for k, v in self.manifest.items() if k != "near_dup_pairs"}}
        return metrics, detail

    def per_layer(self) -> tuple[dict, dict]:
        """Per-layer metrics over the warm passes (per-pass means; set-up
        metrics are medians over set-ups), plus the trace record."""
        jobs = {}
        for path in glob.glob(os.path.join(self.log_dir, "*")):
            with open(path) as f:
                for jid, job in parse_event_log(f).items():
                    jobs[(path, jid)] = job
        by_span: dict[int, list[dict]] = {}
        for job in jobs.values():
            if job["group"] is not None and job["group"].isdigit():
                by_span.setdefault(int(job["group"]), []).append(job)
        sp = self.tracer.spans
        passes = [s for s in sp if s.name == "pass"]
        n = len(passes)
        timed = subtree(sp, [p.id for p in passes])
        timed_ids = {s.id for s in timed}

        def jobs_in(spans):
            return [j for s in spans for j in by_span.get(s.id, [])]

        def total(spans, key):
            return sum(j[key] for j in jobs_in(spans))

        def durs(name):
            return [s.dur for s in timed if s.name == name]

        setups = [s for s in sp if s.name == "setup"]
        load_s = [sum(c.dur for c in subtree(sp, [s.id]) if c.name.startswith("sources.load_table"))
                  for s in setups]
        clicks = [s for s in timed if s.name == "op:click"]
        click_jobs = jobs_in(subtree(sp, [c.id for c in clicks]))
        construct = [s for s in timed if s.name == "queries.construct"]
        timed_jobs = jobs_in(timed)
        m = {
            "session.get_spark_s": statistics.median(
                s.dur for s in sp if s.name == "session.get_spark"),
            "sources.load_table_s": statistics.median(load_s),
            "sources.scan_rows": total(timed, "scan_rows") / n,
            "sources.scan_bytes": total(timed, "scan_bytes") / n,
            "catalog.build_catalog_s": statistics.median(durs("catalog.build_catalog") or [0]),
            "catalog.per_type_query_s": statistics.median(durs("catalog.per_type_query") or [0]),
            "catalog.rows_scanned_per_row_returned": (
                sum(j["scan_rows"] for j in click_jobs)
                / max(1, sum(c.attrs.get("rows", 0) for c in clicks))),
            "queries.construct_s": sum(s.dur for s in construct) / n,
            "queries.construct_jobs": len(jobs_in(construct)) / n,
            "queries.action_s": sum(durs("queries.action")) / n,
        }
        for key in JOB_KEYS:
            name = (f"python.{key[len('python_'):]}" if key.startswith("python_")
                    else f"sources.{key}" if key.startswith("scan_") else f"spark.{key}")
            if key == "peak_exec_mem_bytes":
                m[name] = max((j[key] for j in timed_jobs), default=0)
            elif not key.startswith("scan_"):
                m[name] = sum(j[key] for j in timed_jobs) / n
        # staging: RDDs newly persisted by each timed op, their size, and
        # how many of them are still registered when their pass ends
        persisted = bytes_ = leaked = 0
        seen: set[int] = set()
        last_ids: set[int] = set()
        pass_of = {}
        for p in passes:
            for s in subtree(sp, [p.id]):
                pass_of[s.id] = p.id
        end_ids: dict[int, set[int]] = {}
        new_by_pass: dict[int, set[int]] = {}
        for rec in self.storage:
            ids = set(rec["ids"])
            new = ids - last_ids - seen
            seen |= new
            last_ids = ids
            pid = pass_of.get(rec["span"])
            if pid is None:  # not in a timed pass
                continue
            persisted += len(new)
            bytes_ += sum(rec["bytes"].get(i, 0) for i in new)
            new_by_pass.setdefault(pid, set()).update(new)
            end_ids[pid] = ids
        for pid, new in new_by_pass.items():
            leaked += len(new & end_ids[pid])
        m["staging.persisted_rdds"] = persisted / n
        m["staging.persisted_bytes"] = bytes_ / n
        m["staging.leaked_rdds"] = leaked / n
        wrote_b = wrote_f = 0
        prev: dict = {}
        for rec in self.lake_io:
            changed = [p for p, v in rec["files"].items() if prev.get(p) != v]
            if rec["span"] in timed_ids:
                wrote_f += len(changed)
                wrote_b += sum(rec["files"][p][0] for p in changed)
            prev = rec["files"]
        m["lake.prepare_s"] = sum(durs("lake.prepare")) / n
        m["lake.bytes_written"] = wrote_b / n
        m["lake.files_written"] = wrote_f / n
        record = self._trace_record(timed, by_span)
        return m, record

    def _trace_record(self, timed, by_span) -> dict:
        """Per-op breakdown of the warm passes: mean wall time, layer
        self times and Spark counters; ops sorted slowest first."""
        sp = self.tracer.spans
        ops: dict[str, dict] = {}
        for s in timed:
            if not s.name.startswith("op:"):
                continue
            name = s.name[3:]
            tree = subtree(sp, [s.id])
            rec = ops.setdefault(name, {"n": 0, "wall_s": 0.0, "layers": {}, "spark": {}})
            rec["n"] += 1
            rec["wall_s"] += s.dur
            for layer, v in layer_times(tree, by_span).items():
                rec["layers"][layer] = rec["layers"].get(layer, 0.0) + v
            for j in (j for t in tree for j in by_span.get(t.id, [])):
                for k in JOB_KEYS:
                    rec["spark"][k] = rec["spark"].get(k, 0) + j[k]
        for rec in ops.values():
            k = rec.pop("n")
            rec["samples"] = k
            rec["wall_s"] = round(rec["wall_s"] / k, 4)
            rec["layers"] = {a: round(b / k, 4) for a, b in sorted(rec["layers"].items())}
            rec["spark"] = {a: round(b / k, 4) for a, b in rec["spark"].items()}
            rec["dominant_layer"] = max(rec["layers"], key=rec["layers"].get)
        ordered = dict(sorted(ops.items(), key=lambda kv: -kv[1]["wall_s"]))
        return {
            "workload": self.w.name,
            "seed": self.seed,
            "passes": sum(1 for s in timed if s.name == "pass"),
            "layers_self_s_per_pass": {
                a: round(b / max(1, sum(1 for s in timed if s.name == "pass")), 4)
                for a, b in sorted(layer_times(timed, by_span).items())
            },
            "ops": ordered,
            "spans": [
                {"id": s.id, "name": s.name, "parent": s.parent,
                 "start": round(s.start, 6), "end": round(s.end, 6)}
                for s in sp
            ],
        }


def run(workload: str, seed: int, seconds: float, trace: bool, work_dir: str) -> dict:
    """Run one workload; returns the result object (last stdout line),
    the detail object and, for a traced run, the trace record."""
    r = Run(WORKLOADS[workload], seed, seconds, trace, work_dir)
    r.prepare_inputs()
    sampler = RssSampler()
    sampler.start()
    try:
        r.execute()
    finally:
        sampler.stop()
        stop_spark(r.spark)
    r.rss = sampler
    try:
        metrics, detail = r.e2e()
        record = None
        if trace:
            layer, record = r.per_layer()
            record["tracing"] = {k: v[0] for k, v in metrics.items()}
            metrics = {k: (v, UNITS[k]) for k, v in layer.items()}
    finally:
        r.cleanup()
    result = {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return {"result": result, "detail": detail, "trace": record}


UNITS = {
    "session.get_spark_s": "s", "sources.load_table_s": "s",
    "sources.scan_rows": "count", "sources.scan_bytes": "bytes",
    "catalog.build_catalog_s": "s", "catalog.per_type_query_s": "s",
    "catalog.rows_scanned_per_row_returned": "ratio",
    "queries.construct_s": "s", "queries.construct_jobs": "count",
    "queries.action_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.scheduler_delay_s": "s", "spark.task_run_s": "s",
    "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_fetch_wait_s": "s", "spark.spill_bytes": "bytes",
    "spark.peak_exec_mem_bytes": "bytes",
    "python.worker_s": "s", "python.bytes_to_worker": "bytes",
    "python.bytes_from_worker": "bytes",
    "staging.persisted_rdds": "count", "staging.persisted_bytes": "bytes",
    "staging.leaked_rdds": "count",
    "lake.prepare_s": "s", "lake.bytes_written": "bytes",
    "lake.files_written": "count",
}
