"""Benchmark of the engine's serving and ingest paths.

    python3 perfbench/run.py --workload serve|ingest --seed N \
        --seconds S --trace 0|1

Run from the root of a source checkout (the directory holding
``opensearch_spark/``).  Every input is generated from ``--seed``; one
client drives the engine in a closed loop for ``--seconds``; answers are
checked against the pure-Python oracle after the timed part.  The last
line of standard output is the result::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

holding the end-to-end metrics with ``--trace 0`` and the per-layer
metrics (timed from spans around each layer's public calls) with
``--trace 1``.  The line before it holds the run's metadata, sample
counts, supported tail percentiles and the workload's own figures.
See NOTES.md beside this file for why each workload exists.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from typing import Dict, List, Optional

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import Tracer  # noqa: E402
from stats import summarize  # noqa: E402

# Sizes are set for a 4-core box; see NOTES.md for how they relate to the
# engine's caches.
WORKLOADS = {
    # persisted index, FIXTURES-shaped requests: per-request overhead
    # dominates.  search_p50_ms is the median of the cycle's first
    # traffic.SERVE_GATED searches, which every run makes.
    "serve": {"n_convs": 2000},
    # parquet-resident index with hot-term bursts, grown by a fixed number
    # of micro-batch appends, each followed by high-df reads; then
    # compacted and read again
    "ingest": {"n_convs": 1500, "batch_convs": 150, "reads_per_append": 2,
               "appends": 2},
}
SETUP_REPS = 2
TOP_K = 10
MAX_CPUS = 4
DRIVER_MEMORY = "2g"
# G1 sizes the heap from measured pause times, so the JVM's resident size
# (and peak_rss_mb) moved by hundreds of MiB between runs of the same
# seed; the serial collector sizes it from heap occupancy alone
JVM_GC = "-XX:+UseSerialGC"
WARM_QUERY = {"match": {"text": "error handling"}}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def checkout_root() -> str:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "opensearch_spark", "__init__.py")):
        raise SystemExit(
            f"perfbench: no opensearch_spark package under {root}; "
            "run from the root of a source checkout"
        )
    return root


def box_probe_s() -> float:
    """Single-core speed probe (a fixed pure-Python loop), so a slow run
    can be told apart from a slow box."""
    t = time.perf_counter()
    s = 0
    for i in range(3_000_000):
        s += i
    return time.perf_counter() - t


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver JVM and the Python workers), sampled from /proc."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: Dict[int, List[int]] = {}
        rss: Dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{name}/statm") as f:
                    pages = int(f.read().split()[1])
            except (OSError, ValueError, IndexError):
                continue  # the process ended while we read it
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(name))
            rss[int(name)] = pages
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, ()))
        return total * self._page

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.period_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return the peak in MiB."""
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())
        return self.peak_bytes / 2**20


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(dp, fn))
    return total


def git_commit(root: str) -> Optional[str]:
    """HEAD's commit, read from .git (loose or packed ref); None in a plain
    source tree."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref  # detached HEAD
        ref = ref[5:]
        loose = os.path.join(git, ref)
        if os.path.isfile(loose):
            with open(loose) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                sha, _, name = line.strip().partition(" ")
                if name == ref:
                    return sha
    except OSError:
        pass
    return None


class Bench:
    def __init__(self, args, root: str):
        self.args = args
        self.root = root
        self.cfg = WORKLOADS[args.workload]
        self.n_cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
        self.work = os.path.join(root, ".perfbench", f"work-{os.getpid()}")
        self.attempted = 0
        self.failures: List[str] = []
        self.lat: Dict[str, List[float]] = {}  # request class -> seconds
        self.to_check: List[Dict] = []  # {"req", "rows" | "resp", "n_convs"}
        self.n_indexed = self.cfg["n_convs"]  # conversations the reads see
        self.detail: Dict = {}
        self.spark = None
        self.tracer = None

    # ---------------------------------------------------------------- session

    def start_session(self) -> float:
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # keep Spark scratch, Python temp files and JVM temp files inside
        # the checkout; Python workers import the engine from it
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = tmp
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p
        )
        # the one override of session.get_spark's defaults: an 8g heap lets
        # G1 grow the JVM by whole gigabytes on some runs and not others,
        # which made peak RSS unsteady; the indexes here need far less
        os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
        os.environ["SPARK_DRIVER_JAVA_OPTS"] = (
            os.environ.get("SPARK_DRIVER_JAVA_OPTS", "")
            + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData {JVM_GC}"
        )
        from opensearch_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", master=f"local[{self.n_cpus}]", shuffle_partitions=self.n_cpus
        )
        self.spark.sparkContext.setLogLevel("ERROR")

        # a session is ready once its Python workers are up
        def ident(batches):
            yield from batches

        self.spark.range(self.n_cpus, numPartitions=self.n_cpus).mapInPandas(
            ident, "id long"
        ).collect()
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        if self.spark is None:
            return
        gw = self.spark.sparkContext._gateway
        self.spark.stop()
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        self.spark = None

    # ------------------------------------------------------------ index setup

    def index_config(self):
        from opensearch_spark.index.builder import IndexConfig

        return IndexConfig(n_segments=max(self.n_cpus, 8))

    def corpus_df(self, n_convs: int):
        from pyspark.sql import functions as F

        import traffic
        from opensearch_spark.transcripts import generate

        docs = generate(self.spark, n_convs, seed=self.args.seed, partitions=self.n_cpus)
        if self.args.workload == "ingest":
            ids = [f"conv-{c:08d}" for c in self.burst_ids()]
            docs = docs.withColumn(
                "text",
                F.when(F.col("conv_id").isin(ids),
                       F.concat("text", F.lit(traffic.BURST_TEXT)))
                .otherwise(F.col("text")),
            )
        return docs

    def batch_df(self, lo: int, hi: int):
        """Conversations [lo, hi) as a local DataFrame, generated driver-side
        before the append is timed, so the append's jobs read only the
        batch."""
        import check
        from opensearch_spark.transcripts import generate

        schema = generate(self.spark, 0).schema
        pdf = check.corpus_pandas(hi, self.args.seed, first_conv=lo)
        return self.spark.createDataFrame(pdf[schema.fieldNames()], schema=schema)

    def burst_ids(self) -> List[int]:
        import traffic

        return traffic.burst_conv_ids(self.args.seed, self.cfg["n_convs"])

    def build(self, index_dir: str, n_convs: int) -> float:
        from opensearch_spark.index.builder import build_index

        shutil.rmtree(index_dir, ignore_errors=True)
        tr = self.tracer
        with tr.job_group(self.spark, f"build-{os.path.basename(index_dir)}", layer="build"):
            t0 = time.perf_counter()
            with tr.span("index.builder.build_index"):
                build_index(self.spark, self.corpus_df(n_convs), index_dir, self.index_config())
            return time.perf_counter() - t0

    def open_engine(self, index_dir: str, persist: bool = False):
        from opensearch_spark.index.reader import InvertedIndex
        from opensearch_spark.query.executor import SearchEngine

        idx = InvertedIndex(self.spark, index_dir)
        if persist:
            with self.tracer.span("index.reader.persist"):
                idx.persist()

        def lookups(sp, args):
            cache = idx.__dict__.get("_term_stats_cache", {})
            want = set(args[0])
            sp["lookups"] = len(want)
            sp["hits"] = sum(1 for t in want if t in cache)

        self.tracer.wrap(idx, "term_stats", "index.reader.term_stats", lookups)
        return idx, SearchEngine(idx)

    def setup(self) -> Dict:
        """SETUP_REPS full set-ups (generate + build + open [+ persist] +
        one query); the last one is kept for the timed part."""
        n = self.cfg["n_convs"]
        persist = self.args.workload == "serve"
        reps, builds = [], []
        for rep in range(SETUP_REPS):
            d = os.path.join(self.work, f"idx-{rep}")
            t0 = time.perf_counter()
            builds.append(self.build(d, n))
            idx, eng = self.open_engine(d, persist=persist)
            eng.search(WARM_QUERY, size=TOP_K).collect()
            reps.append(time.perf_counter() - t0)
            if rep < SETUP_REPS - 1:
                idx.unpersist()
                shutil.rmtree(d)
        return {"dir": d, "idx": idx, "eng": eng, "rep_s": reps, "build_s": builds}

    # --------------------------------------------------------------- requests

    def run_request(self, eng, req: Dict, check: bool) -> Optional[float]:
        """One request, timed from the call to the collected answer."""
        from opensearch_spark import restapi
        from opensearch_spark.query import dsl as Q
        from opensearch_spark.query import wand

        tr = self.tracer
        self.attempted += 1
        rid = f"req-{self.attempted}"
        try:
            with tr.job_group(self.spark, rid, cls=req["cls"]):
                t0 = time.perf_counter()
                with tr.span("request", req=rid, cls=req["cls"]):
                    if req["kind"] == "rest":
                        with tr.span("restapi.search_request"):
                            out = {"resp": restapi.search_request(eng, req["body"])}
                    else:
                        wand.LAST_PRUNE_STATS.clear()
                        with tr.span("query.dsl.parse"):
                            q = Q.from_dict(req["body"])
                        with tr.span("query.executor.plan"):
                            df = eng.search(q, size=TOP_K, prune=req["prune"])
                        with tr.span("query.executor.exec"):
                            rows = df.collect()
                        out = {"rows": [((r["conv_id"], r["turn_idx"]), r["score"]) for r in rows]}
                dt = time.perf_counter() - t0
        except Exception:
            self.failures.append(f"{rid} {req['cls']}: {traceback.format_exc(limit=3)}")
            return None
        if req["prune"]:
            self.detail.setdefault("wand", []).append({"req": rid, **wand.LAST_PRUNE_STATS})
        self.lat.setdefault(req["cls"], []).append(dt)
        if check:
            self.to_check.append({"req": req, **out, "n_convs": self.n_indexed})
        return dt

    def count_live(self, eng, expected: int, label: str) -> None:
        from opensearch_spark import restapi

        self.attempted += 1
        try:
            got = restapi.count_request(eng)["count"]
        except Exception:
            self.failures.append(f"count {label}: {traceback.format_exc(limit=3)}")
            return
        if got != expected:
            self.failures.append(f"count {label}: live docs {got} != {expected}")

    # -------------------------------------------------------------- workloads

    def warm_up(self, eng, reqs: List[Dict]) -> None:
        """The searches ``reqs`` once each, untimed and unchecked."""
        for req in reqs:
            self.attempted += 1
            try:
                eng.search(req["body"], size=TOP_K, prune=req["prune"]).collect()
            except Exception:
                self.failures.append(f"warm-up {req['cls']}: {traceback.format_exc(limit=3)}")

    def closed_loop(self, eng, stream: List[Dict]) -> Dict:
        """Requests for the run's seconds, and at least until the cycle's
        first ``SERVE_GATED`` searches are done; those give the gated
        median, so every run and every commit measures the same request
        classes."""
        import numpy as np

        import traffic

        rng = np.random.default_rng([self.args.seed, 7])
        seen = set()
        n_gated = traffic.SERVE_GATED
        searches: List[Optional[float]] = []
        t0 = time.perf_counter()
        for req in stream:
            if (time.perf_counter() - t0 >= self.args.seconds
                    and len(searches) >= n_gated):
                break
            # every class once, then a seeded half of the rest
            check = req["cls"] not in seen or rng.random() < 0.5
            seen.add(req["cls"])
            dt = self.run_request(eng, req, check)
            if req["kind"] == "search":
                searches.append(dt)
        else:
            raise RuntimeError("request stream exhausted before the time was up")
        gated = [x for x in searches[:n_gated] if x is not None]
        return {"window_s": time.perf_counter() - t0, "gated_search_s": gated}

    def ingest_loop(self, base: Dict, stream: List[Dict]) -> Dict:
        """A fixed number of appends, each followed by a few reads on the
        reopened index; then compaction and a few reads more.  The count is
        fixed, not timed, so every run and every commit builds the same
        index layout and runs the same reads."""
        from opensearch_spark.index.merge import merge_index
        from opensearch_spark.streaming.incremental import append_batch
        from opensearch_spark.transcripts import n_turns

        tr = self.tracer
        n0, bc, d = self.cfg["n_convs"], self.cfg["batch_convs"], base["dir"]
        stream = iter(stream)
        n_reads = self.cfg["reads_per_append"]
        append_s, appended = [], 0
        for batch in range(self.cfg["appends"]):
            lo, hi = n0 + batch * bc, n0 + (batch + 1) * bc
            docs = self.batch_df(lo, hi)
            self.attempted += 1
            with tr.job_group(self.spark, f"append-{batch}", layer="append"):
                ta = time.perf_counter()
                with tr.span("streaming.incremental.append_batch"):
                    append_batch(self.spark, docs, d, self.index_config(), batch_id=batch)
                append_s.append(time.perf_counter() - ta)
            appended += n_turns(hi) - n_turns(lo)
            self.n_indexed = hi
            idx, eng = self.open_engine(d)
            if idx.stats["n_docs"] != n_turns(hi):
                self.failures.append(f"append {batch + 1}: n_docs {idx.stats['n_docs']} != {n_turns(hi)}")
            for req in (next(stream) for _ in range(n_reads)):
                self.run_request(eng, req, check=True)
        n_final = n0 + self.cfg["appends"] * bc
        self.count_live(eng, n_turns(n_final), "after the last append")
        merged = d + "-merged"
        with tr.job_group(self.spark, "merge", layer="merge"):
            tm = time.perf_counter()
            with tr.span("index.merge.merge_index"):
                merge_index(self.spark, d, merged)
            compact_s = time.perf_counter() - tm
        _idx, eng = self.open_engine(merged)
        for req in (next(stream) for _ in range(n_reads)):
            self.run_request(eng, req, check=True)
        self.count_live(eng, n_turns(n_final), "after compaction")
        return {
            "n_convs_final": n_final,
            "appends": self.cfg["appends"],
            "append_turns": appended,
            "append_s": append_s,
            "compact_s": compact_s,
            "incremental_index_bytes": dir_bytes(d),
            "merge_bytes_written": dir_bytes(merged),
        }

    # ----------------------------------------------------------------- checks

    def check_answers(self, n_convs: int) -> Dict:
        """Checks every kept answer against an oracle over the corpus the
        read saw (one oracle per corpus size); returns the text bytes of
        the ``n_convs``-conversation corpus."""
        import check

        bursts = self.burst_ids() if self.args.workload == "ingest" else ()
        t0 = time.perf_counter()
        sizes = sorted({item["n_convs"] for item in self.to_check} | {n_convs})
        pdfs = {n: check.corpus_pandas(n, self.args.seed, bursts) for n in sizes}
        oracles = {n: check.build_oracle(pdfs[n]) for n in sizes}
        oracle_s = time.perf_counter() - t0
        checked = 0
        for item in self.to_check:
            req, orc = item["req"], oracles[item["n_convs"]]
            if "resp" in item:
                err = check.agg_mismatch(orc, req, item["resp"])
            else:
                gold = check.expected(orc, req, TOP_K)
                if gold is None:
                    continue
                err = check.mismatch(item["rows"], gold)
            checked += 1
            if err:
                self.failures.append(f"{req['cls']} {json.dumps(req['body'])}: {err}")
        text_bytes = int(pdfs[n_convs]["text"].str.encode("utf-8").str.len().sum())
        return {"oracle_build_s": oracle_s, "checked": checked, "text_bytes": text_bytes}

    # -------------------------------------------------------------------- run

    def run(self) -> Dict:
        import traffic
        from opensearch_spark.transcripts import n_turns

        wl = self.args.workload
        meta = {
            "workload": wl, "seed": self.args.seed, "seconds": self.args.seconds,
            "trace": self.args.trace, "box_probe_s": box_probe_s(),
            "nproc": len(os.sched_getaffinity(0)), "git_commit": git_commit(self.root),
        }
        rss = RssSampler().start()
        session_s = self.start_session()
        self.tracer = Tracer(self.spark, enabled=bool(self.args.trace))
        sc = self.spark.sparkContext
        import pandas
        import pyarrow

        meta.update({
            "master": sc.master, "driver_memory": sc.getConf().get("spark.driver.memory"),
            "jvm_gc": JVM_GC,
            "spark": self.spark.version, "pyarrow": pyarrow.__version__,
            "pandas": pandas.__version__, "index_segments": self.index_config().n_segments,
            **self.cfg,
        })
        phases = {"session": session_s}
        n = self.cfg["n_convs"]
        stream = traffic.request_stream(wl, self.args.seed, n, max(400, int(self.args.seconds * 40)))
        t = time.perf_counter()
        base = self.setup()
        phases["setup"] = time.perf_counter() - t
        t = time.perf_counter()
        # warm each shape the gated requests use, with requests of their
        # own, so the gated ones do not pay first-use code generation
        n_warm = len(traffic.INGEST_CYCLE if wl == "ingest" else traffic.SERVE_HEAD)
        self.warm_up(base["eng"], traffic.request_stream(
            wl, self.args.seed, n, n_warm, stream=traffic.WARM_STREAM))
        phases["warm_up"] = time.perf_counter() - t
        t = time.perf_counter()
        if wl == "ingest":
            ingest = self.ingest_loop(base, stream)
            n_final = ingest["n_convs_final"]
            index_bytes = ingest["incremental_index_bytes"]
        else:
            loop = self.closed_loop(base["eng"], stream)
            n_final = n
            index_bytes = dir_bytes(base["dir"])
        peak_rss_mb = rss.stop()
        phases["measured"] = time.perf_counter() - t
        t = time.perf_counter()
        if self.args.trace:
            self.tokenize_probe()
            jobs = self.tracer.job_stats(self.spark)
        base["idx"].unpersist()
        checks = self.check_answers(n_final)
        phases["checks"] = time.perf_counter() - t

        reads = {c: v for c, v in self.lat.items() if c != "agg"}
        search_lat = [x for v in reads.values() for x in v]
        # serve gates on its fixed head of searches; ingest's reads are a
        # fixed set already
        gated_lat = loop["gated_search_s"] if wl == "serve" else search_lat
        agg_lat = self.lat.get("agg", [])
        all_lat = search_lat + agg_lat
        e2e = {
            "setup_s": (session_s + statistics.median(base["rep_s"]), "s"),
            "search_p50_ms": (statistics.median(gated_lat) * 1e3, "ms"),
            "build_turns_per_s": (n_turns(n) / statistics.median(base["build_s"]), "1/s"),
            "index_bytes_per_text_byte": (index_bytes / checks["text_bytes"], "ratio"),
            "peak_rss_mb": (peak_rss_mb, "MiB"),
        }
        detail = {
            "meta": meta,
            "phase_s": phases,
            "session_start_s": session_s,
            "setup_rep_s": base["rep_s"],
            "build_s": base["build_s"],
            "turns": n_turns(n),
            "latency_ms": {c: self.summary(v) for c, v in self.lat.items()},
            "search_ms": self.summary(search_lat),
            "agg_ms": self.summary(agg_lat),
            # one closed-loop client: requests (searches and aggregations)
            # per second of request time
            "search_qps": len(all_lat) / sum(all_lat),
            "checks": checks,
            "failures": self.failures[:20],
        }
        if wl != "ingest":
            detail["window_s"] = loop["window_s"]
            detail["gated_search_ms"] = self.summary(gated_lat)
        else:
            detail["ingest"] = {
                "appends": ingest["appends"],
                "append_turns_per_s": ingest["append_turns"] / sum(ingest["append_s"]),
                "append_ms": self.summary(ingest["append_s"]),
                "compact_s": ingest["compact_s"],
                "read_after_append_ms": self.summary(search_lat),
            }
        detail["end_to_end"] = {k: v[0] for k, v in e2e.items()}
        if self.args.trace:
            metrics, layers = self.layer_metrics(session_s, jobs, ingest if wl == "ingest" else None)
            detail["layers"] = layers
            self.write_spans()
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        return {"detail": detail, "metrics": metrics}

    @staticmethod
    def summary(samples_s: List[float]) -> Dict:
        return {k: (v * 1e3 if k != "n" else v) for k, v in summarize(samples_s).items()}

    # ---------------------------------------------------------------- tracing

    def tokenize_probe(self) -> None:
        """The per-turn analysis work of the build, timed driver-side on a
        seeded sample of the generated turns."""
        import numpy as np

        from opensearch_spark.analysis import analyzer
        from opensearch_spark.transcripts import generate_pandas

        rng = np.random.default_rng([self.args.seed, 11])
        convs = rng.choice(self.cfg["n_convs"], size=300, replace=False)
        texts = generate_pandas(np.sort(convs), seed=self.args.seed)["text"].tolist()
        with self.tracer.span("analysis.tokenize_with_positions", turns=len(texts)):
            for t in texts:
                analyzer.tokenize_with_positions(t, None)

    def layer_metrics(self, session_s: float, jobs: Dict, ingest: Optional[Dict]):
        tr = self.tracer
        selfs = tr.self_times()
        spans = [dict(sp, self=st) for sp, st in zip(tr.spans, selfs)]
        by_req: Dict[str, List[Dict]] = {}
        for sp in spans:
            if sp["req"] is not None:
                by_req.setdefault(sp["req"], []).append(sp)
        med = lambda xs: statistics.median(xs) if xs else float("nan")  # noqa: E731
        mean = lambda xs: sum(xs) / len(xs) if xs else float("nan")  # noqa: E731

        def self_s(sps, name):
            return sum(s["self"] for s in sps if s["name"] == name)

        def dur_s(sps, name):
            return sum(s["end"] - s["start"] for s in sps if s["name"] == name)

        searches, aggs = [], []
        per_class: Dict[str, Dict[str, List[float]]] = {}
        for rid, sps in by_req.items():
            req_sp = next(s for s in sps if s["name"] == "request")
            row = {
                "cls": req_sp["cls"],
                "wall_ms": (req_sp["end"] - req_sp["start"]) * 1e3,
                "parse_us": self_s(sps, "query.dsl.parse") * 1e6,
                "plan_ms": self_s(sps, "query.executor.plan") * 1e3,
                "exec_ms": self_s(sps, "query.executor.exec") * 1e3,
                "term_stats_ms": dur_s(sps, "index.reader.term_stats") * 1e3,
                "agg_ms": dur_s(sps, "restapi.search_request") * 1e3,
                "uncovered_ms": req_sp["self"] * 1e3,
                "py4j_calls": sum(s["py4j"] for s in sps if s["name"] in
                                  ("query.executor.plan", "query.executor.exec",
                                   "restapi.search_request")),
                **{k: jobs.get(rid, {}).get(k, 0) for k in ("jobs", "stages", "tasks", "failed_tasks")},
            }
            (aggs if row["cls"] == "agg" else searches).append(row)
            pc = per_class.setdefault(row["cls"], {})
            for k, v in row.items():
                if k != "cls":
                    pc.setdefault(k, []).append(v)

        def col(rows, k):
            return [r[k] for r in rows]

        ts_spans = [s for s in spans if s["name"] == "index.reader.term_stats" and s["req"]]
        lookups = sum(s["lookups"] for s in ts_spans)
        hits = sum(s["hits"] for s in ts_spans)
        builds = [s for s in spans if s["name"] == "index.builder.build_index"]
        build_jobs = [v for v in jobs.values() if v.get("layer") == "build"]
        tok = next(s for s in spans if s["name"] == "analysis.tokenize_with_positions")
        m = {
            "session.start_s": (session_s, "s"),
            "index.builder.build_s": (med([s["end"] - s["start"] for s in builds]), "s"),
            "index.builder.jobs": (mean(col(build_jobs, "jobs")), "count"),
            "index.builder.tasks": (mean(col(build_jobs, "tasks")), "count"),
            "analysis.tokenize_us_per_turn": ((tok["end"] - tok["start"]) * 1e6 / tok["turns"], "us"),
            "query.dsl.parse_us": (med(col(searches, "parse_us")), "us"),
            "query.executor.plan_ms": (med(col(searches, "plan_ms")), "ms"),
            "query.executor.exec_ms": (med(col(searches, "exec_ms")), "ms"),
            "query.executor.py4j_calls": (mean(col(searches, "py4j_calls")), "count"),
            "spark.jobs_per_search": (mean(col(searches, "jobs")), "count"),
            "spark.stages_per_search": (mean(col(searches, "stages")), "count"),
            "spark.tasks_per_search": (mean(col(searches, "tasks")), "count"),
            "spark.failed_tasks": (sum(v["failed_tasks"] for v in jobs.values()), "count"),
            "index.reader.term_stats_ms": (med(col(searches, "term_stats_ms")), "ms"),
            "index.reader.term_stats_hit_ratio": (hits / lookups if lookups else float("nan"), "ratio"),
        }
        layers = {
            "per_class": {c: {k: med(v) for k, v in d.items()} | {"n": len(d["wall_ms"])}
                          for c, d in per_class.items()},
            "request_wall_ms": med(col(searches, "wall_ms")),
            "request_uncovered_ms": med(col(searches, "uncovered_ms")),
        }
        if aggs:
            layers["restapi.agg_ms"] = med(col(aggs, "agg_ms"))
            layers["restapi.agg_jobs"] = mean(col(aggs, "jobs"))
        persists = [s["end"] - s["start"] for s in spans if s["name"] == "index.reader.persist"]
        if persists:
            layers["index.reader.persist_s"] = med(persists)
        wand = self.detail.get("wand", [])
        if wand:
            total = sum(w.get("total_blocks", 0) for w in wand)
            kept = sum(w.get("kept_blocks", 0) for w in wand)
            layers["query.wand.blocks_skipped_frac"] = 1 - kept / total if total else 0.0
            layers["query.wand.bailed_frac"] = sum(bool(w.get("bailed")) for w in wand) / len(wand)
            layers["query.wand.pruned_requests"] = len(wand)
        if ingest is not None:
            appends = [s["end"] - s["start"] for s in spans
                       if s["name"] == "streaming.incremental.append_batch"]
            app_jobs = [v for v in jobs.values() if v.get("layer") == "append"]
            merge_jobs = [v for v in jobs.values() if v.get("layer") == "merge"]
            layers["streaming.incremental.append_ms"] = med(appends) * 1e3
            layers["streaming.incremental.jobs_per_append"] = mean(col(app_jobs, "jobs"))
            layers["index.merge.merge_s"] = ingest["compact_s"]
            layers["index.merge.jobs"] = mean(col(merge_jobs, "jobs"))
            layers["index.merge.bytes_rewritten"] = ingest["merge_bytes_written"]
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, layers

    def write_spans(self) -> None:
        out = os.path.join(self.root, ".perfbench",
                           f"spans-{self.args.workload}-seed{self.args.seed}.json")
        selfs = self.tracer.self_times()
        with open(out, "w") as f:
            json.dump([dict(sp, self=st) for sp, st in zip(self.tracer.spans, selfs)], f)
        self.detail["spans_file"] = os.path.relpath(out, self.root)

    def close(self) -> None:
        try:
            if self.tracer is not None:
                self.tracer.close()
            self.stop_session()
        finally:
            shutil.rmtree(self.work, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = checkout_root()
    sys.path.insert(1, root)
    bench = Bench(args, root)
    try:
        out = bench.run()
    finally:
        t = time.perf_counter()
        bench.close()
    out["detail"]["phase_s"]["stop"] = time.perf_counter() - t
    out["detail"].update(bench.detail)
    failed = len(bench.failures)
    out["detail"]["op_error_rate"] = failed / bench.attempted
    print(json.dumps(out["detail"], default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": bench.attempted,
        "failed": failed,
        "metrics": out["metrics"],
    }, allow_nan=False))
    return 0


if __name__ == "__main__":
    sys.exit(main())
