"""Summarization benchmark: approach x model sweeps timed per approach.

    python3 perfbench/run.py --workload llm_sweep --seed 1 --seconds 10 --trace 0

Runs the summarization engine from outside, through its public functions
only, on one of two workloads (see README.md), checks every output against
computations made apart from the engine, and prints as its last line one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics (set-up time, and the median CPU time of a
pass over the timed passes made in ``--seconds``, at least one, after an
untimed warm-up pass); ``--trace 1`` runs one traced pass and one untraced pass
after the warm-up, plus per-layer probes, reports the per-layer metrics and
writes the spans to ``.bench_work/traces/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import corpus  # noqa: E402
import mock_ollama  # noqa: E402
from tracing import Tracer  # noqa: E402

APPROACHES = ("truncated", "mapreduce", "iterative", "critique", "hierarchical")
# benchmark approach name -> run_evaluation_pipeline approach name
PIPELINE = {"truncated": "truncated", "mapreduce": "mapreduce", "iterative": "iterative",
            "critique": "mapreduce_critique"}
CLOSED_FORM = ("truncated", "mapreduce", "iterative")  # first-k of the document
SEEDED = "truncated"  # the sink cell the incremental set-up fills
SETUP_SHARE = 0.5  # of the docs, summarized into SEEDED's cell at set-up
SETUP_REPS = 3
MAX_PASSES = 40

# The reference runners' parameters (BASELINE.md), shared by the pipeline
# sweep and the separate per-approach calls.
CFG = {
    "truncated": {"max_input_tokens": 16384},
    "mapreduce": {"chunk_size": 1200, "chunk_overlap": 50, "token_max": 1000},
    "iterative": {"chunk_size": 800, "chunk_overlap": 50},
    "mapreduce_critique": {
        "chunk_size": 12000, "chunk_overlap": 200, "token_max": 10000, "max_critique_iterations": 2,
    },
    "hierarchical": {"max_depth": 2, "chunk_size": 12000, "chunk_overlap": 200, "token_max": 1000},
}

WORKLOADS = {
    # dataset-2 shape: ~4k-token documents; "http": the LLM behind the mock
    # server, results kept in a parquet sink whose truncated cell already
    # holds the set-up share
    "llm_sweep": {
        "corpus": corpus.CorpusSpec(
            tokens_lo=3000, tokens_hi=4800, ref_lo=150, ref_hi=300,
            sections=(3, 5),
        ),
        "models": {"llama-mock": 256},
        "http": True,
    },
    # dataset-1 shape: ~55k-token documents, JVM mock summarizer, in-memory
    # results; an odd k, so the mock critic flags every initial summary and
    # the critique approach refines
    "longdoc_mock": {
        "corpus": corpus.CorpusSpec(
            tokens_lo=50000, tokens_hi=60000, ref_lo=250, ref_hi=450,
            sections=(5, 8),
        ),
        "models": {"mock-191": 191},
        "http": False,
    },
}

PER_LAYER = (
    ["session.get_spark_s"]
    + [f"approach.{a}_s" for a in APPROACHES]
    + [f"llm.{a}.{m}" for a in APPROACHES for m in (
        "calls", "prompt_tokens", "completion_tokens", "busy_s", "mean_inflight", "max_inflight", "connections")]
    + ["chunking.chunk_documents_s", "chunking.chunks", "chunking.chunk_tokens",
       "summarizer.summarize_df_s",
       "collapse.collapse_until_fits_s", "collapse.rounds", "collapse.reduce_groups_s",
       "hierarchical.flatten_tree_json_s", "hierarchical.nodes", "hierarchical.levels",
       "evaluate.evaluate_summaries_s", "evaluate.pairs", "evaluate.lcs_cells",
       "evaluate.summary_statistics_s", "aggregate.best_by_metric_s",
       "pairing.skip_existing_s", "pairing.new_docs",
       "sources.load_table_s", "sources.sink_bytes", "sources.sink_files"]
    + [f"spark.{a}.{m}" for a in APPROACHES for m in ("jobs", "stages", "tasks")]
)


def progress(what: str) -> None:
    print(f"[{time.perf_counter() - T_START:7.2f}s] {what}", file=sys.stderr, flush=True)


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("inflight"):
        return "requests"
    if name.endswith("tokens"):
        return "tokens"
    if name.endswith("bytes"):
        return "bytes"
    return "count"


# ---------------------------------------------------------------- host setup


def tree_cpu_s(exclude: int | None) -> float:
    """CPU seconds (user + system, reaped children included) of this process
    and its descendants (the JVM, the Python workers), less the subtree
    rooted at ``exclude`` (the mock server, which stands in for the LLM)."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited meanwhile
            continue
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid != exclude:
            total += ticks.get(pid, 0)
            todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_heap_mb() -> int:
    """An eighth of the memory this process may use, within 1-3 GiB."""
    total = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total = int(line.split()[1]) * 1024
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            lim = f.read().strip()
        if lim.isdigit():
            total = min(total, int(lim))
    except OSError:
        pass
    return max(1024, min(3072, total // 8 // 2**20))


class MockServer:
    """The mock Ollama server as a child process (mock_ollama.py)."""

    def __init__(self):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "mock_ollama.py")],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        line = self.proc.stdout.readline().split()
        if len(line) != 2 or line[0] != "PORT":
            self.close()
            raise RuntimeError("mock server did not start")
        self.url = f"http://127.0.0.1:{line[1]}"

    def get(self, path: str) -> dict:
        import urllib.request

        with urllib.request.urlopen(f"{self.url}{path}", timeout=30) as r:
            return json.loads(r.read())

    def stats(self, reset: bool = False) -> dict:
        return self.get(f"/stats{'?reset=1' if reset else ''}")

    def close(self) -> None:
        try:
            self.proc.stdin.close()
            self.proc.wait(timeout=15)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait(timeout=15)


# ---------------------------------------------------------------- the bench


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.w = WORKLOADS[args.workload]
        self.work = work
        self.in_dir = os.path.join(work, "in")
        self.tracer: Tracer | None = None
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.rouge = checks.Rouge()
        self.server: MockServer | None = None
        self.spark = None
        self.layer: dict[str, float] = {}

    # -- program imports (after the environment is set) --------------------

    def import_program(self) -> None:
        import map_reduced_approach_for_vietnamese_long_document_summarization_spark as pkg
        from map_reduced_approach_for_vietnamese_long_document_summarization_spark import summarize as S
        from map_reduced_approach_for_vietnamese_long_document_summarization_spark.metrics import (
            aggregate, evaluate,
        )
        from map_reduced_approach_for_vietnamese_long_document_summarization_spark.operators import (
            _ckpt, chunking, collapse, dedup, pairing,
        )
        from map_reduced_approach_for_vietnamese_long_document_summarization_spark.functions.text import (
            ws_token_count,
        )
        from map_reduced_approach_for_vietnamese_long_document_summarization_spark.sources import tables
        from map_reduced_approach_for_vietnamese_long_document_summarization_spark.summarize import pipeline

        self.pkg, self.S, self.pipeline = pkg, S, pipeline
        self.evaluate, self.aggregate = evaluate, aggregate
        self.ckpt, self.chunking, self.collapse = _ckpt, chunking, collapse
        self.dedup, self.pairing, self.tables = dedup, pairing, tables
        self.ws_token_count = ws_token_count
        from pyspark.sql import functions as F

        self.F = F

    # -- spans -------------------------------------------------------------

    def span(self, name: str):
        if self.tracer is None:
            from contextlib import nullcontext

            return nullcontext()
        return self.tracer.span(name)

    # -- inputs ------------------------------------------------------------

    def write_inputs(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        docs = corpus.make_corpus(self.w["corpus"], self.args.seed)
        self.docs = {d["doc_id"]: d for d in docs}
        self.doc_tokens = {d["doc_id"]: set(d["text"].split()) for d in docs}
        os.makedirs(self.in_dir)
        cols = {"documents": ("text",), "references": ("reference",), "trees": ("tree_json",)}
        for name, extra in cols.items():
            table = pa.table({"doc_id": [d["doc_id"] for d in docs], **{c: [d[c] for d in docs] for c in extra}})
            pq.write_table(table, os.path.join(self.in_dir, f"{name}.parquet"))
        ids = sorted(self.docs)
        n_seed = int(len(ids) * SETUP_SHARE) if self.w["http"] else 0
        self.seed_ids = ids[:n_seed]

    # -- session + set-up --------------------------------------------------

    def summarizers(self) -> dict:
        S = self.S
        if self.server is not None:
            return {
                m: S.OllamaSummarizer(base_url=self.server.url, model=m, max_new_tokens=k, timeout=60.0)
                for m, k in self.w["models"].items()
            }
        return {m: S.MockSummarizer(k) for m, k in self.w["models"].items()}

    def critic(self, summarizer):
        return self.S.OllamaCritic(summarizer) if self.server is not None else self.S.MockCritic()

    def set_up_once(self) -> tuple[float, float]:
        """One set-up: the session, the input tables loaded, and (on the
        http workload) the set-up share summarized into the seed sink.
        The first set-up launches the JVM; later ones reuse it (a SparkContext
        restarted in-process keeps stale Python accumulators). Returns the
        wall times of ``get_spark`` and of the rest."""
        t0 = time.perf_counter()
        with self.span("session.get_spark"):
            self.spark = self.pkg.get_spark(
                app_name="perfbench",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    "spark.local.dir": os.path.join(self.work, "tmp"),
                    # the initial heap pinned to the maximum: a growing heap
                    # resized and collected differently from run to run
                    "spark.driver.extraJavaOptions": (
                        f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} "
                        f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"
                    ),
                },
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        with self.span("sources.load_table"):
            load = self.tables.load_table
            self.docs_df = load(self.spark, self.in_dir, "documents")
            self.refs_df = load(self.spark, self.in_dir, "references")
            self.trees_df = load(self.spark, self.in_dir, "trees")
            for df in (self.docs_df, self.refs_df, self.trees_df):
                df.count()
        self.models = self.summarizers()
        self.first_model = next(iter(self.models))
        if self.w["http"]:
            seed_dir = os.path.join(self.work, "seed_sink")
            shutil.rmtree(seed_dir, ignore_errors=True)
            seed_docs = self.docs_df.filter(self.docs_df.doc_id.isin(self.seed_ids))
            with self.span("pipeline.setup_share"):
                self.pipeline.run_evaluation_pipeline(
                    seed_docs, self.refs_df, self.models, [PIPELINE[SEEDED]], self.pipeline_config(),
                    out_dir=seed_dir,
                )
            self.reset_state()
        return t1 - t0, time.perf_counter() - t1

    def pipeline_config(self) -> dict:
        cfg = {a: dict(CFG[a]) for a in PIPELINE.values()}
        cfg["mapreduce_critique"]["critic"] = self.critic(self.models[self.first_model])
        return cfg

    def reset_state(self) -> None:
        """Drop caches and checkpoint RDDs left by the previous call."""
        sc = self.spark.sparkContext
        self.spark.catalog.clearCache()
        self.ckpt.release_rdds(sc, self.ckpt.persistent_rdd_ids(sc), blocking=True)

    # -- one pass ----------------------------------------------------------

    def summarize(self, a: str, out_dir) -> list[tuple]:
        """One approach over the whole corpus, materialized: the sweep
        pipeline for the four approaches it knows (every model), the direct
        call for hierarchical (first model). Rows: (doc_id, model, summary)."""
        if a == "hierarchical":
            s = self.models[self.first_model]
            df = self.S.hierarchical_summarize(self.trees_df, s, **CFG["hierarchical"])
            return [(r["doc_id"], self.first_model, r["summary"]) for r in df.collect()]
        res = self.pipeline.run_evaluation_pipeline(
            self.docs_df, self.refs_df, self.models, [PIPELINE[a]], self.pipeline_config(),
            out_dir=out_dir,
        )
        rows = [(r["doc_id"], r["model"], r["summary"]) for r in res.summaries.collect()]
        self.dedup.unpersist_inputs(res.summaries)
        self.manifest = res.manifest
        return rows

    def run_pass(self, traced: bool = False) -> dict:
        sc = self.spark.sparkContext
        times: dict[str, float] = {}
        out_dir = None
        if self.w["http"]:  # restore the set-up state into a fresh sink
            # for SEEDED's cell only: a sink on every cell cost about a
            # second per approach call, and the run budget has no room
            out_dir = os.path.join(self.work, "sink")
            shutil.rmtree(out_dir, ignore_errors=True)
            shutil.copytree(os.path.join(self.work, "seed_sink"), out_dir)

        gen_rows: list[tuple] = []
        cpu = 0.0
        for a in APPROACHES:
            self.reset_state()
            gc.collect()
            if traced:
                sc.setJobGroup(f"perfbench-{a}", a)
            before = self.server.stats(reset=True) if self.server else None
            cpu0 = self.cpu_s()
            t0 = time.perf_counter()
            with self.span(f"approach.{a}"):
                rows = self.summarize(a, out_dir if a == SEEDED else None)
            times[f"{a}_s"] = wall = time.perf_counter() - t0
            cpu += self.cpu_s() - cpu0
            after = self.server.stats() if self.server else None
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                self.record_scheduler(a)
                self.record_llm(a, before, after, wall)
            if self.server and a == "truncated":
                calls = after["calls"] - before["calls"]
                want = len(self.models) * self.n_new(a, out_dir)
                self.op(calls == want, f"truncated made {calls} server calls for {want} new docs")
            self.check_summaries(a, rows)
            if out_dir and a == SEEDED:
                self.check_new_docs(a)
            gen_rows += [(d, a, m, s) for d, m, s in rows]
        if out_dir:
            self.check_sink(out_dir)
            if traced:
                files = [os.path.join(d, f) for d, _, fs in os.walk(out_dir) for f in fs if f.endswith(".parquet")]
                self.layer["sources.sink_files"] = len(files)
                self.layer["sources.sink_bytes"] = sum(os.path.getsize(f) for f in files)

        times["evaluate_s"], eval_cpu = self.evaluate_stage(gen_rows, traced)
        times["job_s"] = sum(times.values())
        times["cpu_s"] = cpu + eval_cpu
        return times

    def cpu_s(self) -> float:
        return tree_cpu_s(self.server.proc.pid if self.server else None)

    def evaluate_stage(self, gen_rows: list[tuple], traced: bool = False) -> tuple[float, float]:
        """The evaluation stage alone, over materialized summaries
        ``(doc_id, approach, model, summary)``; returns its wall and CPU
        seconds."""
        self.reset_state()
        gen = self.spark.createDataFrame(
            gen_rows, "doc_id string, approach string, model string, summary string"
        ).localCheckpoint(eager=True)
        ev, F = self.evaluate, self.F
        gc.collect()
        cpu0 = self.cpu_s()
        t0 = time.perf_counter()
        with self.span("evaluate.evaluate_summaries"):
            m_df = ev.evaluate_summaries(gen, self.refs_df).localCheckpoint(eager=True)
            m_rows = m_df.collect()
        with self.span("evaluate.summary_statistics"):
            st_df = ev.summary_statistics(m_df, ["approach", "model"])
            st_rows = st_df.collect()
        # the best approach per model: each workload has one model, so the
        # arg-max runs over the approaches
        with self.span("aggregate.best_by_metric"):
            best_rows = self.aggregate.best_by_metric(
                st_df.select("approach", "model", F.col("rouge1_f_mean").alias("score")),
                "score", "approach", ["model"],
            ).collect()
        wall = time.perf_counter() - t0
        cpu = self.cpu_s() - cpu0
        self.check_evaluation(m_rows, st_rows, best_rows, len({(a, m) for _, a, m, _ in gen_rows}))
        if traced:
            self.layer["evaluate.pairs"] = len(m_rows)
            self.layer["evaluate.lcs_cells"] = sum(
                checks.Rouge.lcs_cells(r["summary"], self.docs[r["doc_id"]]["reference"]) for r in m_rows
            )
        return wall, cpu

    # -- checks ------------------------------------------------------------

    def op(self, ok: bool, note: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(note)

    def check_row(self, a: str, k: int, doc_id: str, summary) -> None:
        if summary is None or summary.startswith("__ERROR__"):
            self.op(False, f"{a}/{doc_id}: error row {summary!r:.80}")
            return
        if a in CLOSED_FORM:
            want = checks.first_k(self.docs[doc_id]["text"], k)
            self.op(summary == want, f"{a}/{doc_id}: summary is not the first {k} tokens")
        else:
            bad = checks.check_property_summary(summary, self.doc_tokens[doc_id], k)
            self.op(bad is None, f"{a}/{doc_id}: {bad}")

    def check_summaries(self, a: str, rows) -> None:
        """One row per (doc, model) the approach ran for, each checked."""
        models = [self.first_model] if a == "hierarchical" else list(self.models)
        by_key: dict[tuple, list] = {}
        for doc_id, m, summary in rows:
            by_key.setdefault((m, doc_id), []).append(summary)
        for m in models:
            k = self.w["models"][m]
            for doc_id in self.docs:
                got = by_key.pop((m, doc_id), [])
                if len(got) != 1:
                    self.op(False, f"{a}/{m}/{doc_id}: {len(got)} summary rows")
                    continue
                self.check_row(a, k, doc_id, got[0])
        if by_key:
            self.op(False, f"{a}: rows for unknown (model, doc) {sorted(by_key)[:3]}")

    def n_new(self, a: str, out_dir) -> int:
        """Docs the approach must summarize: all, less the set-up share when
        its sink cell was seeded."""
        return len(self.docs) - (len(self.seed_ids) if out_dir and a == SEEDED else 0)

    def check_new_docs(self, a: str) -> None:
        n_new = self.n_new(a, True)
        for m in self.models:
            got = self.manifest["cells"][f"{PIPELINE[a]}/{m}"].get("new_docs")
            self.op(got == n_new, f"sink {a}/{m}: new_docs {got} != {n_new}")

    def check_sink(self, out_dir: str) -> None:
        """Exactly one row per (model, doc) in SEEDED's cells, read with
        pyarrow."""
        import pyarrow.parquet as pq

        for m in self.models:
            cell = os.path.join(out_dir, f"approach={PIPELINE[SEEDED]}", f"model={m}")
            ids: list[str] = []
            for d, _, fs in os.walk(cell):
                for f in fs:
                    if f.endswith(".parquet"):
                        ids += pq.read_table(os.path.join(d, f), columns=["doc_id"])["doc_id"].to_pylist()
            self.op(len(ids) == len(self.docs) and set(ids) == set(self.docs),
                    f"sink {SEEDED}/{m}: {len(ids)} rows, {len(set(ids))} docs")

    def check_evaluation(self, m_rows, st_rows, best_rows, n_cells: int) -> None:
        groups: dict[tuple, list] = {}
        program_r1: dict[tuple, list] = {}
        for r in m_rows:
            want = self.rouge(r["summary"], self.docs[r["doc_id"]]["reference"])
            got = (r["rouge1_f"], r["rouge2_f"], r["rougeL_f"])
            self.op(all(checks.close(x, y) for x, y in zip(got, want)),
                    f"{r['approach']}/{r['model']}/{r['doc_id']}: rouge {got} != {want}")
            groups.setdefault((r["approach"], r["model"]), []).append(want)
            program_r1.setdefault((r["approach"], r["model"]), []).append(got[0])
        n_want = len(self.docs) * n_cells
        self.op(len(m_rows) == n_want, f"evaluate: {len(m_rows)} metric rows, want {n_want}")
        bad = checks.check_statistics(
            [r.asDict() for r in st_rows], groups, program_r1, ["approach", "model"])
        self.op(not bad, f"statistics: {bad[:2]}")
        got = {r["model"]: (r["approach"], r["score"]) for r in best_rows}
        bad = checks.check_best(got, groups) if len(got) == len(best_rows) else "duplicate rows"
        self.op(bad is None, f"best approach per model {got}: {bad}")

    # -- traced-run layer records -----------------------------------------

    def record_scheduler(self, a: str) -> None:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(f"perfbench-{a}")
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                stages += 1
                sinfo = st.getStageInfo(sid)
                tasks += sinfo.numTasks if sinfo else 0
        self.layer[f"spark.{a}.jobs"] = len(jobs)
        self.layer[f"spark.{a}.stages"] = stages
        self.layer[f"spark.{a}.tasks"] = tasks

    def record_llm(self, a: str, before, after, wall: float) -> None:
        if before is None:
            return
        for m in ("calls", "prompt_tokens", "completion_tokens", "busy_s", "connections"):
            self.layer[f"llm.{a}.{m}"] = after[m] - before[m]
        self.layer[f"llm.{a}.max_inflight"] = after["max_inflight"]
        self.layer[f"llm.{a}.mean_inflight"] = (after["busy_s"] - before["busy_s"]) / wall

    def probe_layers(self) -> None:
        """Each layer's public call alone, materialized, on this workload's
        inputs with the map-reduce parameters and the first model."""
        F = self.F
        mr = CFG["mapreduce"]
        s = self.models[self.first_model]
        noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
        self.reset_state()
        with self.span("chunking.chunk_documents"):
            chunks = self.chunking.chunk_documents(
                self.docs_df, mr["chunk_size"], mr["chunk_overlap"]).localCheckpoint(eager=True)
        row = chunks.agg(F.count("*").alias("n"), F.sum("n_tokens").alias("t")).first()
        self.layer["chunking.chunks"], self.layer["chunking.chunk_tokens"] = row["n"], row["t"]
        with self.span("summarizer.summarize_df"):
            mapped = s.summarize_df(chunks, "chunk", "text").select(
                "doc_id", "chunk_idx", "text", self.ws_token_count("text").alias("n_tokens")
            ).localCheckpoint(eager=True)
        stats: dict = {}
        with self.span("collapse.collapse_until_fits"):
            noop(self.collapse.collapse_until_fits(mapped, s, mr["token_max"], stats=stats))
        self.layer["collapse.rounds"] = stats.get("rounds", 0)
        with self.span("collapse.reduce_groups"):
            noop(self.collapse.reduce_groups(mapped.withColumn("group_id", F.lit(0)), s))
        self.reset_state()
        with self.span("hierarchical.flatten_tree_json"):
            nodes = self.S.flatten_tree_json(self.trees_df).localCheckpoint(eager=True)
        row = nodes.agg(
            F.count("*").alias("n"),
            F.max(F.when(F.col("node_type") != "Paragraph", F.col("depth"))).alias("d"),
        ).first()
        self.layer["hierarchical.nodes"], self.layer["hierarchical.levels"] = row["n"], row["d"] or 0
        self.reset_state()
        existing = self.docs_df.filter(self.docs_df.doc_id.isin(self.seed_ids)).select("doc_id")
        with self.span("pairing.skip_existing"):
            new = self.pairing.skip_existing(self.docs_df, existing).localCheckpoint(eager=True)
        self.layer["pairing.new_docs"] = new.count()
        self.reset_state()

    # -- the run -----------------------------------------------------------

    def run(self) -> dict:
        tracer = Tracer() if self.args.trace else None
        self.tracer = tracer
        setups = [self.set_up_once() for _ in range(SETUP_REPS)]
        self.tracer = None
        progress("set-ups done")
        # one untimed warm-up pass: the first call of each approach pays the
        # JIT, Python worker start and UDF set-up, so a first timed pass ran
        # up to 1.5x slower than the next. The mock server does not sleep
        # meanwhile: sleeping warms nothing.
        if self.server:
            self.server.get("/pace?scale=0")
        self.run_pass()
        if self.server:
            self.server.get(f"/pace?scale={mock_ollama.SCALE}")
        progress("warm-up pass done")
        if tracer is not None:
            # traced pass first, then an untraced one: passes still speed up
            # as the JIT warms, so the difference overstates the overhead
            walls = []
            for traced in (True, False):
                self.tracer = tracer if traced else None
                t0 = time.perf_counter()
                times = self.run_pass(traced=traced)
                walls.append(time.perf_counter() - t0)
                if traced:
                    self.layer.update({f"approach.{a}_s": times[f"{a}_s"] for a in APPROACHES})
            self.tracer = tracer
            self.probe_layers()
            return self.layer_metrics(setups, walls[1], walls[0])
        passes: list[dict] = []
        t_start = time.perf_counter()
        while not passes or (len(passes) < MAX_PASSES and time.perf_counter() - t_start < self.args.seconds):
            passes.append(self.run_pass())
            progress(f"timed pass {len(passes)} done")
        # the session starts once per process (see set_up_once); the rest of
        # the set-up repeats, and its median is taken
        setup_s = setups[0][0] + statistics.median(rest for _, rest in setups)
        print(json.dumps({"passes": passes, "setups": setups}), file=sys.stderr)
        # the wall times of a pass are printed above and the traced run
        # reports them per approach; on a host whose CPUs are shared they
        # spread too widely from run to run to carry a bound (see README.md)
        return {
            "setup_s": (setup_s, "s"),
            "cpu_s": (statistics.median(p["cpu_s"] for p in passes), "s"),
        }

    def layer_metrics(self, setups, plain: float, traced: float) -> dict:
        """Per-layer values from the traced pass, the probes and the
        set-up spans; writes the trace file."""
        tr = self.tracer
        layer = {name: 0 for name in PER_LAYER}
        layer.update(self.layer)
        for name in ("chunking.chunk_documents", "summarizer.summarize_df",
                     "collapse.collapse_until_fits", "collapse.reduce_groups",
                     "hierarchical.flatten_tree_json", "evaluate.evaluate_summaries",
                     "evaluate.summary_statistics", "aggregate.best_by_metric", "pairing.skip_existing"):
            layer[f"{name}_s"] = tr.seconds(name)
        # set-up spans: the session's cold start, the median table load
        layer["session.get_spark_s"] = tr.durations("session.get_spark")[0]
        layer["sources.load_table_s"] = statistics.median(tr.durations("sources.load_table"))
        traces = os.path.join(ROOT, ".bench_work", "traces")
        os.makedirs(traces, exist_ok=True)
        path = os.path.join(traces, f"{self.args.workload}-seed{self.args.seed}.json")
        tr.dump(path, {
            "workload": self.args.workload, "seed": self.args.seed,
            "untraced_pass_s": plain, "traced_pass_s": traced, "trace_overhead_s": traced - plain,
            "setups_s": setups, "layer": layer,
        })
        print(f"trace written to {path}; overhead {traced - plain:+.3f}s", file=sys.stderr)
        return {name: (layer[name], layer_unit(name)) for name in PER_LAYER}

    def close(self) -> None:
        if self.spark is not None:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            self.spark.stop()
            if gw is not None:
                gw.shutdown()
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    proc.stdin.close()
                    proc.wait(timeout=60)
            self.spark = None
        if self.server is not None:
            self.server.close()
            self.server = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="summarization engine benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(host_cpus()),
        SPARK_GRAFT_DRIVER_MEM=f"{host_heap_mb()}m",
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    sys.path.insert(0, ROOT)
    bench = Bench(args, work)
    try:
        bench.import_program()
        bench.write_inputs()
        if bench.w["http"]:
            bench.server = MockServer()
        progress("inputs written")
        metrics = bench.run()
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        progress("closed")
    for note in bench.failures:
        print(f"FAILED: {note}", file=sys.stderr)
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
