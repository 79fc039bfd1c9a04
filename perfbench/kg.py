"""kg_build: the flagship batch job, pages → ranked triples/entities/edges.

One closed-loop client: the main thread submits one ``run_pipeline`` call
at a time on a fresh workdir, over synthetic pages written to parquet
during set-up. Warm-up (JVM code generation and JIT, Python-worker start)
is an untimed pipeline run over a fixed canary corpus, which does not
depend on the seed; it counts in ``setup_s``, and its triples must
reproduce the digest stored here, so any change in what the pipeline
outputs fails the run.

The traced run (``traced``) also drains new pages through
``streaming.kg_update.run_incremental_kg`` with the model its pipeline
run just trained, to trace the streaming layer.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from collections.abc import Iterator

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.streaming import StreamingQueryListener

from benchlib import Outcome, self_times, value_hash
from remine_spark import eval as ev, mining, model, pipeline, synth, transe
from remine_spark.streaming import kg_update
from sparkstats import Tracer, span_stats

N_PAGES = 2000          # corpus (~92% en docs)
CANARY_SEED = 0         # the warm-up corpus, whatever --seed is, and the
CANARY_DIGEST = (       # value_hash of its (url, sent_id, subj, pred, obj) set
    "61e0560ded5c90cafe47df653c9a6cc56c4585df293f5864330105bdc64e4c98")
PIPE_KW = {"inner_iters": 2, "transe_epochs": 3}
SLICE_DOCS = 300        # URL slice checked against the single-node mirror
MIN_PR = 0.95           # mirror parity floor for precision and recall
GOLD_MIN_P = 0.85       # analytic-gold floors: 2000-page runs measure
GOLD_MIN_R = 0.75       # P 0.89-0.90, R 0.81-0.84 (see README.md)
STREAM_PAGES = 1200     # traced drain: new pages ...
STREAM_FILES = 12       # ... in this many files ...
STREAM_MAX_FILES = 2    # ... at most this many per micro-batch


def write_pages(docs: list[dict], out_dir: str, n_files: int) -> None:
    """Write synthetic docs as ``pages`` parquet, ``n_files`` files."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    per = math.ceil(len(docs) / n_files)
    for k in range(n_files):
        chunk = docs[k * per:(k + 1) * per]
        pq.write_table(pa.table({
            "url": pa.array([d["url"] for d in chunk], pa.string()),
            "warc_ts": pa.array([d["warc_ts"] for d in chunk],
                                pa.timestamp("us", tz="UTC")),
            "html": pa.array([d["html"] for d in chunk], pa.binary()),
            "text": pa.array([d["text"] for d in chunk], pa.string()),
            "lang": pa.array([d["lang"] for d in chunk], pa.string()),
        }), os.path.join(out_dir, f"part-{k:05d}.parquet"))


def read_pages(spark, in_dir: str):
    return spark.read.schema(synth.PAGES_SCHEMA).parquet(in_dir)


def footer_rows(path: str) -> int:
    """Rows of a checkpoint directory, from its parquet footers."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(dirpath, f)).metadata.num_rows
    return total


def mirror_parity(docs: list[dict], payload: dict, got: set) -> tuple[float, float]:
    """Precision/recall of ``got`` (url, subj, pred, obj) against the
    single-node mirror, on the URL slice of ``docs``."""
    urls = {d["url"] for d in docs}
    mine = {t for t in got if t[0] in urls}
    p, r, _tp = ev.precision_recall(mine, ev.mirror_triples(docs, payload))
    return p, r


class Corpus:
    """Pages written to parquet, and the output checks of kg_build runs
    over them: mirror parity on a URL slice with the run's own model;
    precision/recall against the corpus's analytic gold triples, a floor
    that does not depend on the fitted model; and the (url, sent_id, subj,
    pred, obj) digest, which must equal ``expected`` when given, and else
    that of the first run checked (from the second run on)."""

    def __init__(self, spark, docs: list[dict], path: str,
                 expected: str | None = None):
        write_pages(docs, path, 2 * spark.sparkContext.defaultParallelism)
        self.pages = read_pages(spark, path)
        self.expected = expected
        self.n_en = sum(d["lang"] == "en" for d in docs)
        self.slice = docs[:SLICE_DOCS]
        self.gold = set(synth.analytic_gold(docs))
        self.digests: list[str] = []
        self.parity: list[tuple[float, float]] = []
        self.gold_pr: list[tuple[float, float]] = []

    def check(self, out: dict, workdir: str) -> list[str]:
        rows = out["triples"].select(
            "url", "sent_id", "subj", "pred", "obj").collect()
        self.digests.append(value_hash(
            ["url", "sent_id", "subj", "pred", "obj"], rows))
        got = {(x.url, x.subj, x.pred, x.obj) for x in rows}
        payload = pipeline.load_model(workdir).payload()
        p, r = mirror_parity(self.slice, payload, got)
        self.parity.append((p, r))
        gp, gr, _tp = ev.precision_recall(got, self.gold)
        self.gold_pr.append((gp, gr))
        errors = []
        if p < MIN_PR or r < MIN_PR:
            errors.append(f"mirror parity P={p:.4f} R={r:.4f} < {MIN_PR}")
        if gp < GOLD_MIN_P or gr < GOLD_MIN_R:
            errors.append(f"analytic gold P={gp:.4f} R={gr:.4f} below "
                          f"{GOLD_MIN_P}/{GOLD_MIN_R}")
        want = self.expected or self.digests[0]
        if self.digests[-1] != want:  # the first run of no ``expected`` passes
            errors.append(f"triple digest {self.digests[-1]} != {want}")
        return errors

    def detail(self) -> dict:
        return {"triples_digests": self.digests, "mirror_parity": self.parity,
                "analytic_gold_pr": self.gold_pr}


def run_once(spark, pages, workdir: str) -> tuple[dict, float]:
    """One timed unit: run_pipeline on a fresh workdir until the triples
    are counted."""
    shutil.rmtree(workdir, ignore_errors=True)
    t0 = time.perf_counter()
    out = pipeline.run_pipeline(spark, pages, workdir, resume=False, **PIPE_KW)
    out["n_triples"] = out["triples"].count()
    return out, time.perf_counter() - t0


class Client:
    """The closed-loop client: one pipeline run at a time, each checked,
    counting attempts and failures."""

    def __init__(self, spark):
        self.spark = spark
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.stage_walls: list[dict] = []

    def run(self, corpus: Corpus, workdir: str, around=contextlib.nullcontext
            ) -> tuple[dict, float] | None:
        """One checked run_pipeline over ``corpus`` on a fresh ``workdir``,
        inside the context ``around()`` → (outputs, wall), or None when it
        raised."""
        self.attempted += 1
        result = None
        try:
            with around():
                out, wall = run_once(self.spark, corpus.pages, workdir)
            self.stage_walls.append(out["timings"])
            errors = corpus.check(out, workdir)
            result = out, wall
        except Exception:  # a failed run is counted, not fatal
            errors = [traceback.format_exc()]
        self.failed += bool(errors)
        self.errors += errors
        return result

    def report(self) -> None:
        for e in self.errors:
            print(f"kg_build check failed: {e}", file=sys.stderr)


def setup(bench, seed: int) -> tuple[Client, Corpus, Corpus, float]:
    """Session, inputs and warm-up → (client, timed corpus, canary corpus,
    setup_s)."""
    spark = bench.start_session()
    t0 = time.perf_counter()
    corpus = Corpus(spark, synth.generate_docs(N_PAGES, seed),
                    bench.path("pages"))
    canary = Corpus(spark, synth.generate_docs(N_PAGES, CANARY_SEED),
                    bench.path("canary_pages"), CANARY_DIGEST)
    write_s = time.perf_counter() - t0
    client = Client(spark)
    warm = client.run(canary, bench.path("warm_wd"))
    if warm is None:
        client.report()
        raise RuntimeError("warm-up pipeline run failed")
    shutil.rmtree(bench.path("warm_wd"), ignore_errors=True)
    return client, corpus, canary, bench.session_s + write_s + warm[1]


def run(bench, seed: int, seconds: float) -> Outcome:
    client, corpus, canary, setup_s = setup(bench, seed)
    walls = []
    t_loop = time.perf_counter()
    for n in range(1, 1 << 30):
        wd = bench.path(f"wd{n}")
        done = client.run(corpus, wd)
        if done is not None:
            walls.append(done[1])
        shutil.rmtree(wd, ignore_errors=True)
        elapsed = time.perf_counter() - t_loop
        if elapsed + elapsed / n > seconds:  # the next run would overrun
            break
    client.report()
    if not walls:
        raise RuntimeError("no kg_build run completed")
    run_s = statistics.median(walls)
    return Outcome(
        metrics={"setup_s": setup_s, "run_s": run_s},
        attempted=client.attempted, failed=client.failed,
        detail={"docs_per_s": corpus.n_en / run_s, "en_docs": corpus.n_en,
                "pages": N_PAGES, "walls_s": walls,
                "stage_walls_s": client.stage_walls[1:],  # [0]: warm-up
                "checks": corpus.detail(), "canary_checks": canary.detail(),
                "errors": client.errors})


# --------------------------------------------------------------------------
# traced run
# --------------------------------------------------------------------------

def _stage_key(args: tuple, kwargs: dict) -> str:
    return args[2] if len(args) > 2 else kwargs["stage"]


def _layer_metrics(tracer: Tracer, stats: dict, workdir: str) -> dict:
    spans = tracer.spans
    selft = self_times(spans)

    def ck(*stages):
        return lambda s: s.name == "pipeline.checkpoint" and s.key in stages

    def named(*names):
        return lambda s: s.name in names

    def secs(pred):
        return sum(selft[s.id] for s in spans if pred(s))

    def sql(pred, key, scale=1.0):
        return sum(stats[s.id].get(key, 0.0) for s in spans if pred(s)) * scale

    mb = 1 / 2**20
    corpus = ck("sentences")
    mine = lambda s: ck("patterns")(s) or s.name == "mining.mine_patterns_boosted"
    em = named("model.subtree_census", "model.adjust_constraints",
               "model.rectify_frequency")
    tup = ck("extraction")
    every = lambda s: True
    return {
        "corpus.sentences_s": secs(corpus),
        "corpus.py_run_s": sql(corpus, "py_run_s"),
        "corpus.py_init_s": sql(corpus, "py_init_s"),
        "corpus.arrow_in_mb": sql(corpus, "arrow_in_b", mb),
        "corpus.arrow_out_mb": sql(corpus, "arrow_out_b", mb),
        "corpus.rows_out": footer_rows(os.path.join(workdir, "sentences")),
        "mining.patterns_s": secs(mine),
        "mining.py_run_s": sql(mine, "py_run_s"),
        "mining.shuffle_mb": sql(mine, "shuffle_b", mb),
        "mining.rows_out": footer_rows(os.path.join(workdir, "patterns")),
        "model.census_s": secs(named("model.subtree_census")),
        "model.em_inner_s": secs(named("model.adjust_constraints")),
        "model.em_rectify_s": secs(named("model.rectify_frequency")),
        "model.em_passes": tracer.counts["model._em_stats"],
        "model.py_run_s": sql(em, "py_run_s"),
        "model.arrow_in_mb": sql(em, "arrow_in_b", mb),
        "tuples.extraction_s": secs(tup),
        "tuples.py_run_s": sql(tup, "py_run_s"),
        "tuples.arrow_in_mb": sql(tup, "arrow_in_b", mb),
        "tuples.arrow_out_mb": sql(tup, "arrow_out_b", mb),
        "tuples.rows_out": footer_rows(os.path.join(workdir, "extraction")),
        "transe.fit_s": secs(lambda s: s.name == "transe.fit"
                             or ck("kg_embeddings")(s)),
        "transe.rank_s": secs(ck("triples")),
        "transe.rows_out": footer_rows(os.path.join(workdir, "triples")),
        "pipeline.entities_edges_s": secs(ck("entities", "edges")),
        "pipeline.self_s": secs(named("pipeline.run_pipeline")),
        "pipeline.shuffle_mb": sql(every, "shuffle_b", mb),
        "pipeline.tasks": sql(every, "tasks"),
    }


class _Progress(StreamingQueryListener):
    """Collects (batchDuration, addBatch, input rows) of every non-empty
    micro-batch that started at or after ``since`` (epoch seconds)."""

    def __init__(self, since: float):
        super().__init__()
        self.since = since
        self.batches: list[tuple[int, int, int]] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        started = dt.datetime.fromisoformat(
            p.timestamp.replace("Z", "+00:00")).timestamp()
        if started >= self.since and p.numInputRows > 0:
            with self._lock:
                self.batches.append((p.batchDuration,
                                     p.durationMs.get("addBatch", 0),
                                     p.numInputRows))

    def onQueryTerminated(self, event) -> None:
        pass

    def settled(self, quiet_s: float = 1.0, timeout_s: float = 15.0) -> list:
        """The batches, once no event arrived for ``quiet_s`` (events are
        posted asynchronously, after the query has ended)."""
        deadline = time.monotonic() + timeout_s
        last, seen = time.monotonic(), -1
        while time.monotonic() < deadline:
            with self._lock:
                n = len(self.batches)
            if n != seen:
                seen, last = n, time.monotonic()
            elif time.monotonic() - last >= quiet_s:
                break
            time.sleep(0.1)
        with self._lock:
            return list(self.batches)


def _traced_drain(bench, model_wd: str, te_model, seed: int) -> tuple[dict, list]:
    """Drain new page files through the frozen models with write_epoch
    spanned → (streaming.* metrics, check errors)."""
    spark = bench.spark
    warm = synth.generate_docs(100, seed + 3)  # untimed: first stream start
    write_pages(warm, bench.path("stream_warm_in"), 1)
    kg_update.run_incremental_kg(
        spark, bench.path("stream_warm_in"), bench.path("stream_warm_out"),
        bench.path("stream_warm_ck"), model_wd, transe_model=te_model)

    docs = synth.generate_docs(STREAM_PAGES, seed + 2)
    write_pages(docs, bench.path("stream_in"), STREAM_FILES)
    tracer = Tracer(spark)
    progress = _Progress(time.time())
    spark.streams.addListener(progress)
    try:
        with tracer.wrap(kg_update, "write_epoch"):
            t0 = time.perf_counter()
            kg_update.run_incremental_kg(
                spark, bench.path("stream_in"), bench.path("stream_out"),
                bench.path("stream_ck"), model_wd, transe_model=te_model,
                max_files_per_trigger=STREAM_MAX_FILES)
            wall = time.perf_counter() - t0
        batches = progress.settled()
    finally:
        spark.streams.removeListener(progress)
    stats = span_stats(spark, tracer.spans)
    n_en = sum(d["lang"] == "en" for d in docs)
    epochs = [s.duration * 1e3 for s in tracer.spans]

    def total(key):
        return sum(st.get(key, 0.0) for st in stats.values())

    metrics = {
        "streaming.docs_per_s": n_en / wall,
        "streaming.batches": len(batches),
        "streaming.microbatch_p50_ms": statistics.median(
            b[0] for b in batches) if batches else 0.0,
        "streaming.write_epoch_ms": statistics.median(epochs) if epochs else 0.0,
        "streaming.trigger_overhead_ms": statistics.median(
            b[0] - b[1] for b in batches) if batches else 0.0,
        "streaming.py_init_s": total("py_init_s"),
        "streaming.arrow_in_mb": total("arrow_in_b") / 2**20,
    }
    got = {(r.url, r.subj, r.pred, r.obj) for r in spark.read.parquet(
        bench.path("stream_out")).select("url", "subj", "pred", "obj").collect()}
    p, r = mirror_parity(docs[:SLICE_DOCS],
                         pipeline.load_model(model_wd).payload(), got)
    errors = []
    if p < MIN_PR or r < MIN_PR:
        errors.append(f"stream mirror parity P={p:.4f} R={r:.4f} < {MIN_PR}")
    if sum(b[2] for b in batches) != len(docs):
        errors.append(f"stream drained {sum(b[2] for b in batches)} of "
                      f"{len(docs)} pages")
    return metrics, errors


@contextlib.contextmanager
def _layer_spans(tracer: Tracer, on_fit) -> Iterator[None]:
    """Span every layer call of a pipeline run; ``on_fit`` sees the
    fitted TransE model."""
    with contextlib.ExitStack() as stack:
        stack.enter_context(tracer.wrap(pipeline, "run_pipeline"))
        stack.enter_context(tracer.wrap(pipeline, "checkpoint", key=_stage_key))
        stack.enter_context(tracer.wrap(mining, "mine_patterns_boosted"))
        for attr in ("subtree_census", "adjust_constraints", "rectify_frequency"):
            stack.enter_context(tracer.wrap(model, attr))
        # counted, not spanned: a span would move each pass's jobs out of
        # the adjust_constraints / rectify_frequency job groups
        stack.enter_context(tracer.count(model, "_em_stats"))
        stack.enter_context(tracer.wrap(transe, "fit", on_result=on_fit))
        yield


def traced(bench, seed: int) -> Outcome:
    """An untraced and a traced run (the traced wall against the untraced
    one is the tracing overhead), then a traced drain."""
    client, corpus, canary, _setup_s = setup(bench, seed)
    n_en = corpus.n_en
    plain = client.run(corpus, bench.path("wd_plain"))
    tracer = Tracer(bench.spark)
    fitted = []
    wd = bench.path("wd_traced")
    done = client.run(corpus, wd, lambda: _layer_spans(tracer, fitted.append))
    if plain is None or done is None:
        client.report()
        raise RuntimeError("a kg_build run of the traced set failed")
    wall_plain, wall_traced = plain[1], done[1]
    metrics = _layer_metrics(tracer, span_stats(bench.spark, tracer.spans), wd)
    metrics["trace.docs_per_s"] = n_en / wall_traced
    metrics["trace.untraced_docs_per_s"] = n_en / wall_plain
    metrics["trace.overhead_frac"] = wall_traced / wall_plain - 1.0

    stream_metrics, stream_errors = _traced_drain(bench, wd, fitted[-1], seed)
    metrics.update(stream_metrics)
    client.attempted += 1
    client.failed += bool(stream_errors)
    client.errors += stream_errors
    client.report()
    return Outcome(
        metrics=metrics, attempted=client.attempted, failed=client.failed,
        detail={"en_docs": n_en, "pages": N_PAGES,
                "walls_s": {"untraced": wall_plain, "traced": wall_traced},
                "checks": corpus.detail(), "canary_checks": canary.detail(),
                "errors": client.errors, "spans": len(tracer.spans)})
