"""Spark side of the benchmark: one fresh process, one session, one workload.

``python3 -m perfbench.worker <spec.json>`` is started by ``perfbench/run.py``,
which generates the inputs, samples memory from outside this process tree
and prints the result. This process builds the session, warms it up, runs
the workload's ops through the public entry points, checks their outputs
and writes ``result.json`` next to the spec.

With ``trace`` set, the ops run with spans around calls into each layer's
public functions (see :meth:`KG.layered` and :meth:`NearDup.op`). A layer
family a workload's ops bypass (dedup on the KG workloads, the KG layers on
``near_dup``) is not called; ``run.py`` reports its metrics as 0.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

from perfbench.trace import Tracer

DENSE_TYPES = [f"T{i}" for i in range(8)]
# decode threshold of the dense flagship run (scripts/_flagship_run.py)
DENSE_THRESHOLD = 0.94
# parameters of the declared minhash_dedup and simhash_dedup queries
MINHASH_THRESHOLD = 0.5
MINHASH_HASHES, MINHASH_BANDS = 64, 16
SIMHASH_MAX_HAMMING = 10
# in-process core layer: every n-th page (dense scoring costs ~0.2 s of CPU
# per 500-token page; the gazetteer scorer is cheap enough to run on all)
CORE_SAMPLE_EVERY = {"dense": 8, "gazetteer": 1}
# reruns with nothing pending per KG sequence, and empty-delta reruns per
# near-dup run (rerun_s is the fastest)
RERUNS = 4
# the KG layer spans whose work one run_resumable call repeats
KG_STEPS = ("checkpoint.pending", "sources.extract", "mentions.detect", "pipeline.assemble")
# the spans a traced near-dup op is split into
DEDUP_STEPS = ("dedup.minhash_sig", "dedup.verify", "dedup.simhash")


class DenseScorerFactory:
    """Picklable factory for the dense span scorer (built once per worker)."""

    def __call__(self):
        from qizner_spark.core.scoring import HashBiaffineScorer

        return HashBiaffineScorer(DENSE_TYPES)


class GazetteerScorerFactory:
    """Picklable factory for a gazetteer scorer over a generated KB file."""

    def __init__(self, path: str):
        self.path = path

    def __call__(self):
        from qizner_spark.core.scoring import GazetteerScorer

        with open(self.path) as f:
            return GazetteerScorer(json.load(f), token_deli=" ")


def start_session(spec: dict):
    from qizner_spark.session import get_spark

    work = spec["work"]
    spark = get_spark(
        "perfbench", master=f"local[{spec['cores']}]",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            # the status tracker keeps every job and stage of the run
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _force(df, held: list):
    """Persist and count: the layer's output is built once, inside its span."""
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    held.append(df)
    return df, df.count()


def _release(df) -> None:
    """Unpersist the caches a result hands to its caller."""
    cached = getattr(df, "_qizner_persisted", None)
    for c in cached if isinstance(cached, list) else [cached]:
        if c is not None:
            c.unpersist()


def host_cpu() -> tuple[int, int]:
    """CPU time of this machine so far, in clock ticks, from /proc/stat:
    (busy, stolen). Busy is the time its CPUs ran anything; stolen is the
    time they had work to run but the hypervisor ran another guest."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    return t[0] + t[1] + t[2] + t[5] + t[6], t[7]


def net_of_steal(wall: float, before: tuple[int, int], after: tuple[int, int]) -> float:
    """``wall`` less the share of it the host stole: wall x busy / (busy +
    stolen) over the same interval. On a shared host the other guests'
    load comes and goes over minutes and stretches every op of a run
    alike; this estimates the wall time of the same work when nothing is
    stolen. It corrects only part of that: it does not see contention for
    caches, memory or hyperthread siblings, nor the extra wake-up latency
    of short, latency-bound ops."""
    busy, stolen = after[0] - before[0], after[1] - before[1]
    return wall * busy / (busy + stolen) if busy + stolen > 0 else wall


def fastest(walls: list[float]) -> float:
    """The shortest of repeated walls of one op. Other guests and the
    JIT's warm-up only ever make an op slower, so the fastest repeat is the
    one they disturbed least; a change to the op itself moves every repeat."""
    return min(walls) if walls else 0.0


def _walls(spans: list[dict], name: str) -> float:
    return sum(s["wall_s"] for s in spans if s["name"] == name)


# --------------------------------------------------------------------------
# core layer, in process: the detection operator's per-document steps
# --------------------------------------------------------------------------

def _candidate_spans(scorer, n: int) -> int:
    from qizner_spark.core.spans import num_spans

    if hasattr(scorer, "score_matrix"):
        return num_spans(n)
    return sum(min(scorer.max_len, n - s) for s in range(n))


def _tokens(text: str, lang: str) -> tuple[list[str], str]:
    # the detection operator's routing: ZH per character, else whitespace
    return (list(text), "") if lang == "zh" else (text.split(" "), " ")


def core_detect(scorer, text: str, lang: str, threshold: float, max_seg_len: int = 512):
    """tokenize -> segment -> score -> decode -> dedupe -> flatten for one
    page, as the detection operator runs them inside a Python worker.
    Returns (mention surfaces, candidate spans scored)."""
    from qizner_spark.core.labels import dedupe_mentions, flatten_by_prob
    from qizner_spark.core.segment import segment
    from qizner_spark.core.spans import decode_sigmoid

    tokens, deli = _tokens(text, lang)
    found_all, spans = [], 0
    for seg in segment(tokens, [], max_size=max_seg_len):
        n = len(seg.tokens)
        if hasattr(scorer, "score_matrix"):
            found = decode_sigmoid(scorer.score_matrix(seg.tokens), n,
                                   dict(enumerate(scorer.ent_types)), threshold)
        else:
            found = scorer.score_mentions(seg.tokens, seg.mentions)
        spans += _candidate_spans(scorer, n)
        off = seg.doc_offset
        found_all.extend((t, s + off, e + off, p) for t, s, e, p in found)
    flat = flatten_by_prob(len(tokens), dedupe_mentions(found_all))
    return [deli.join(tokens[s:e]) for _, s, e, _ in flat], spans


def core_pass(scorer, rows, threshold: float, every: int) -> dict:
    """Run :func:`core_detect` on every ``every``-th page and scale its CPU
    time to all pages by the share of candidate spans the sample scored."""
    from qizner_spark.core.segment import segment

    all_spans = sum(_candidate_spans(scorer, len(seg.tokens))
                    for _, text, lang in rows
                    for seg in segment(_tokens(text, lang)[0], [], max_size=512))
    c0 = time.process_time()
    n_mentions = sample_spans = 0
    for _, text, lang in rows[::every]:
        surfaces, spans = core_detect(scorer, text, lang, threshold)
        n_mentions += len(surfaces)
        sample_spans += spans
    cpu = time.process_time() - c0
    return {"cpu_s": cpu * all_spans / max(sample_spans, 1), "spans": all_spans,
            "mentions": n_mentions, "sample_spans": sample_spans}


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------

class Workload:
    def __init__(self, spark, spec: dict):
        self.spark, self.spec = spark, spec
        self.root, self.work = spec["inputs"], spec["work"]
        self.metrics: dict[str, float] = {}
        self.reset()

    def reset(self) -> None:
        """Forget the ops run so far (the warm-up's)."""
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.digests: list[str] = []
        self.op_walls: list[tuple[str, float, float]] = []  # (op, wall, net of steal)
        self.checks: dict[str, bool] = {}
        self.recall = 0.0

    def path(self, rel: str) -> str:
        return os.path.join(self.root, rel)

    def pages(self, batch: str):
        return self.spark.read.parquet(self.path(self.spec["batches"][batch]))

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def timed(self, fn, what: str):
        """Time ``fn``; a raised exception counts as a failed op. Returns
        its output and its wall time net of steal (:func:`net_of_steal`)."""
        c0, t0 = host_cpu(), time.perf_counter()
        try:
            out = fn()
        except Exception:
            traceback.print_exc()
            self.record(False, f"{what}: raised")
            out = None
        wall = time.perf_counter() - t0
        net = net_of_steal(wall, c0, host_cpu())
        self.op_walls.append((what, wall, net))
        return out, net

    def check(self, name: str, ok: bool) -> bool:
        self.checks[name] = self.checks.get(name, True) and ok
        if not ok:
            self.failures.append(f"check {name} failed")
        return ok

    def check_digest(self, digest: str) -> bool:
        """The output digest equals the one recorded for this seed, and
        every op of the run gives the same digest. For a seed with no
        recorded digest the first check is not made (``run.py`` reports the
        digest as unchecked), and a run of one op makes neither."""
        self.digests.append(digest)
        ok = True
        recorded = self.spec.get("recorded_digest")
        if recorded:
            ok = self.check("digest", digest == recorded)
        if len(self.digests) > 1:
            ok = self.check("ops_agree", digest == self.digests[0]) and ok
        return ok


class KG(Workload):
    """Resumable KG builds: ``run_resumable`` per batch, then a rerun."""

    def __init__(self, spark, spec):
        super().__init__(spark, spec)
        if spec["scorer"] == "dense":
            self.factory, self.threshold = DenseScorerFactory(), DENSE_THRESHOLD
        else:
            self.factory, self.threshold = GazetteerScorerFactory(self.path(spec["gazetteer"])), 0.5
        self.n_sinks = 0
        self.core = {"mentions": 0, "sample_spans": 0}
        self.sink = None

    def new_sink(self) -> str:
        while True:
            self.n_sinks += 1
            sink = os.path.join(self.work, "sinks", f"kg{self.n_sinks}")
            if not os.path.exists(sink):
                return sink

    def increment(self, pages, sink: str) -> dict:
        """One resumable increment, in the CLI's call shape."""
        from qizner_spark.plans.checkpoint import run_resumable

        return run_resumable(self.spark, pages, sink, metrics_path=f"{sink}_metrics",
                             scorer_factory=self.factory, decode_threshold=self.threshold)

    def warmup(self) -> None:
        from qizner_spark.plans.pipeline import build_kg

        out = build_kg(self.spark, self.pages("warmup"), scorer_factory=self.factory,
                       decode_threshold=self.threshold)
        out["triples"].write.format("noop").mode("overwrite").save()
        _release(out["triples"])
        out["mentions"].unpersist()

    def sequence(self, tracer: Tracer | None = None, layered: tuple[str, ...] = ()) -> dict:
        """Commit every batch in order into one fresh sink, then rerun.
        With a tracer, the batches named in ``layered`` first run layer by
        layer (nothing committed), then through ``run_resumable``."""
        sink = self.sink = self.new_sink()
        walls, n_pages = [], 0
        for batch in self.spec["order"]:
            pages = self.pages(batch)
            if batch in layered:
                self.layered(tracer, batch, pages, sink)
            with tracer.span("checkpoint.increment", op=batch) if tracer else nullcontext():
                m, wall = self.timed(lambda: self.increment(pages, sink), batch)
            if m is None:
                continue
            expect = self.spec["batch_pages"][batch]
            self.record(m["n_pending"] == expect,
                        f"{batch}: {m['n_pending']} pages pending, {expect} expected")
            walls.append(wall)
            n_pages += m["n_pending"]
        reruns = []
        for _ in range(RERUNS):
            with tracer.span("checkpoint.noop", op="rerun") if tracer else nullcontext():
                m, wall = self.timed(
                    lambda: self.increment(self.pages(self.spec["order"][0]), sink), "rerun")
            if m is not None:
                self.record(m["n_pending"] == 0, f"rerun committed {m['n_pending']} pages")
                reruns.append(wall)
        if not self.check_sink(sink):
            self.failed = self.attempted  # a bad sink fails every op that built it
        return {"docs_per_s": n_pages / sum(walls) if walls else 0.0,
                "rerun_s": fastest(reruns)}

    def check_sink(self, sink: str) -> bool:
        """Each url committed exactly once, no duplicate triples, the triple
        digest, and recall of the expected mentions."""
        from functools import reduce

        from pyspark.sql import functions as F

        urls = reduce(lambda a, b: a.union(b),
                      [self.pages(b).select("url") for b in self.spec["order"]])
        manifest = self.spark.read.parquet(f"{sink}_processed")
        mf = manifest.agg(F.count(F.lit(1)).alias("n"), F.countDistinct("url").alias("d")).first()
        missing = urls.join(manifest, "url", "left_anti").count()
        n_input = sum(self.spec["batch_pages"][b] for b in self.spec["order"])
        triples = self.spark.read.parquet(sink)
        cols = ["subj", "pred", "obj", "url", "warc_ts", "prob"]
        t = triples.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("subj", "pred", "obj", "url").alias("d"),
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
        ).first()
        self.recall = self.kg_recall(triples)
        return all([
            self.check("exactly_once", mf["n"] == mf["d"] == n_input and missing == 0),
            self.check("no_duplicate_triples", t["n"] == t["d"]),
            self.check_digest(f"{t['n']}:{int(t['h'] or 0) % 2 ** 64:016x}"),
            self.check("recall_positive", self.recall > 0),
        ])

    def kg_recall(self, triples) -> float:
        """Expected (url, surface) alias triples found / expected. Expected
        are the planted gazetteer mentions, or for the dense scorer the
        mentions the in-process core steps find on a page sample."""
        from pyspark.sql import functions as F

        if self.spec.get("planted_mentions"):
            expected = self.spark.read.parquet(self.path(self.spec["planted_mentions"])).distinct()
        else:
            scorer = self.factory()
            rows = [(r["url"], r["text"], r["lang"]) for r in
                    self.pages(self.spec["order"][0]).select("url", "text", "lang")
                    .orderBy("url").collect()][::self.spec["recall_sample_every"]]
            expected = self.spark.createDataFrame(
                sorted({(url, s) for url, text, lang in rows
                        for s in core_detect(scorer, text, lang, self.threshold)[0]}),
                "url string, obj string")
        alias = (triples.where(F.col("pred") == "alias").select("url", "obj").distinct()
                 .withColumn("_hit", F.lit(1)))
        r = expected.join(alias, ["url", "obj"], "left").agg(
            F.count(F.lit(1)).alias("n"), F.count("_hit").alias("found")).first()
        return r["found"] / max(r["n"], 1)

    def untraced(self, seconds: float) -> dict:
        rates, reruns, t0 = [], [], time.perf_counter()
        while not rates or time.perf_counter() - t0 < seconds:
            r = self.sequence()
            rates.append(r["docs_per_s"])
            reruns.append(r["rerun_s"])
        return {"docs_per_s": statistics.median(rates), "rerun_s": statistics.median(reruns),
                "ops_timed": len(rates)}

    # ---- traced -----------------------------------------------------------

    def layered(self, tracer: Tracer, batch: str, pages, sink: str) -> None:
        """The increment's work through the layers' public functions, each
        forced inside its own span. Nothing is committed."""
        from pyspark.sql import functions as F
        from qizner_spark.operators.graph import connected_components
        from qizner_spark.operators.linking import build_alias_dictionary, link_mentions
        from qizner_spark.operators.mentions import detect_mentions
        from qizner_spark.plans.checkpoint import pending_only, processed_keys, recover_sink
        from qizner_spark.plans.pipeline import assemble_kg, comention_edges, extract_pages_text
        from qizner_spark.session import ensure_scan_parallelism

        spark, m, held = self.spark, self.metrics, []
        tracer.op = batch

        def add(key, v):
            m[key] = m.get(key, 0) + v

        with tracer.span("checkpoint.pending"):
            recover_sink(spark, sink)
            todo, _ = _force(pending_only(pages, processed_keys(spark, sink)), held)
        with tracer.span("sources.extract"):
            docs, n = _force(extract_pages_text(todo).where(F.col("extract_ok") == 1)
                             .drop("extract_ok"), held)
        add("sources.pages", n)
        with tracer.span("mentions.detect"):
            mentions, n = _force(detect_mentions(
                ensure_scan_parallelism(docs), self.factory, key_col="url", text_col="text",
                lang_col="lang", threshold=self.threshold, passthrough_cols=["warc_ts"],
            ).withColumnRenamed("doc_key", "url"), held)
        add("mentions.rows", n)
        rows = [(r["url"], r["text"], r["lang"]) for r in docs.select("url", "text", "lang").collect()]
        with tracer.span("core.score"):
            core = core_pass(self.factory(), rows, self.threshold,
                             CORE_SAMPLE_EVERY[self.spec["scorer"]])
        add("core.score_cpu_s", core["cpu_s"])
        add("core.spans_scored", core["spans"])
        self.core["mentions"] += core["mentions"]
        self.core["sample_spans"] += core["sample_spans"]
        with tracer.span("linking.alias"):
            alias, n = _force(build_alias_dictionary(mentions), held)
        add("linking.alias_rows", n)
        with tracer.span("linking.link"):
            linked, _ = _force(link_mentions(mentions, alias), held)
        with tracer.span("pipeline.edges"):
            edges, n = _force(comention_edges(linked).select("src", "dst"), held)
        add("pipeline.edges", n)
        n_edges = edges.distinct().count()
        with tracer.span("graph.cc"):
            _, n = _force(connected_components(edges), held)
        threshold = inspect.signature(connected_components).parameters["driver_threshold"].default
        add("graph.cc_edges", n_edges)
        add("graph.cc_nodes", n)
        add("graph.cc_distributed", int(n_edges > threshold))
        if n_edges <= threshold:
            # the same graph through the distributed (salted large/small-star)
            # path, which graphs past the driver threshold take
            with tracer.span("graph.cc_salted"):
                _force(connected_components(edges, driver_threshold=0), held)
        with tracer.span("pipeline.assemble"):
            out = assemble_kg(mentions)
            _, n = _force(out["triples"], held)
        add("pipeline.triples", n)
        _release(out["triples"])
        for df in held:
            df.unpersist()

    def traced(self, tracer: Tracer) -> dict:
        """The backfill layered, then committed; the increments after it
        only committed. The untraced wall is the backfill's commit, the
        traced wall that of the layer spans that stand in for it."""
        layered = tuple(self.spec["order"][:1])
        self.sequence(tracer, layered=layered)
        steps = [s for s in tracer.spans if s["name"] in KG_STEPS]
        return {"untraced_wall": sum(s["wall_s"] for s in tracer.spans
                                     if s["name"] == "checkpoint.increment" and s["op"] in layered),
                "traced_wall": sum(s["wall_s"] for s in steps), "steps": steps}

    def finish_metrics(self, spans: list[dict]) -> dict:
        m = self.metrics
        for name in ("sources.extract", "mentions.detect", "linking.alias", "linking.link",
                     "graph.cc", "graph.cc_salted", "pipeline.edges", "pipeline.assemble",
                     "checkpoint.increment"):
            m[f"{name}_s"] = _walls(spans, name)
        noop = [s["wall_s"] for s in spans if s["name"] == "checkpoint.noop"]
        m["checkpoint.noop_s"] = statistics.median(noop)
        m["mentions.tasks"] = sum(s["tasks"] for s in spans if s["name"] == "mentions.detect")
        m["mentions.boundary_share"] = 1 - m["core.score_cpu_s"] / (
            m["mentions.detect_s"] * self.spec["cores"])
        m["core.span_yield"] = self.core["mentions"] / max(self.core["sample_spans"], 1)
        inc = [s for s in spans if s["name"] == "checkpoint.increment"]
        m["pipeline.jobs"] = sum(s["jobs"] for s in inc) / max(len(inc), 1)
        layered_ops = {s["op"] for s in spans if s["name"] == "checkpoint.pending"}
        m["checkpoint.overhead_s"] = sum(s["wall_s"] for s in inc if s["op"] in layered_ops) - sum(
            s["wall_s"] for s in spans if s["name"] in KG_STEPS)
        files = size = 0
        for base in (self.sink, f"{self.sink}_processed"):
            for d, _, names in os.walk(base):
                for f in names:
                    if f.endswith(".parquet"):
                        files += 1
                        size += os.path.getsize(os.path.join(d, f))
        m["checkpoint.sink_files"] = files
        m["checkpoint.sink_mb"] = size / 2 ** 20
        return m


class NearDup(Workload):
    """``minhash_dedup_pairs`` and ``simhash_near_pairs`` over the corpus."""

    def __init__(self, spark, spec):
        super().__init__(spark, spec)
        self.batch = "backfill"
        self.last: dict = {}

    def docs(self):
        from pyspark.sql import functions as F
        from qizner_spark.plans.pipeline import extract_pages_text

        return extract_pages_text(self.pages(self.batch), validate=False).select(
            F.element_at(F.split("url", "/"), -1).cast("long").alias("doc_id"), "text")

    def warmup(self) -> None:
        batch, self.batch = self.batch, "warmup"
        try:
            self.op(check=False)
            self.rerun()
        finally:
            self.batch = batch

    def minhash(self, docs, tracer: Tracer | None = None):
        """MinHash-LSH pairs, collected. With a tracer the call splits into
        its signature pass (the call returns after it), a standalone LSH
        candidate count, and the collect (LSH candidates + verification)."""
        from pyspark.sql import functions as F
        from qizner_spark.operators.dedup import lsh_candidate_pairs, minhash_dedup_pairs

        with tracer.span("dedup.minhash_sig") if tracer else nullcontext():
            out = minhash_dedup_pairs(docs, threshold=MINHASH_THRESHOLD,
                                      num_hashes=MINHASH_HASHES, bands=MINHASH_BANDS)
        if tracer:
            held = []
            with tracer.span("dedup.lsh"):
                cands, self.metrics["dedup.lsh_candidates"] = _force(lsh_candidate_pairs(
                    out._qizner_persisted, MINHASH_BANDS, num_hashes=MINHASH_HASHES), held)
            self.metrics["dedup.max_candidates_per_doc"] = (
                cands.select(F.explode(F.array("id_a", "id_b")).alias("d"))
                .groupBy("d").count().agg(F.max("count")).first()[0] or 0)
            cands.unpersist()
        with tracer.span("dedup.verify") if tracer else nullcontext():
            rows = out.select("id_a", "id_b").collect()
        _release(out)
        return rows

    def simhash(self, docs, tracer: Tracer | None = None):
        from qizner_spark.operators.dedup import simhash_near_pairs, simhash_signatures

        with tracer.span("dedup.simhash") if tracer else nullcontext():
            out = simhash_near_pairs(simhash_signatures(docs), max_hamming=SIMHASH_MAX_HAMMING)
            rows = out.select("id_a", "id_b", "hamming").collect()
        _release(out)
        return rows

    def op(self, tracer: Tracer | None = None, check: bool = True) -> dict:
        """Both pair functions over the corpus."""
        docs = self.docs()
        if tracer:
            tracer.op = "dedup"
        mh, wall_mh = self.timed(lambda: self.minhash(docs, tracer), "minhash_dedup_pairs")
        sh, wall_sh = self.timed(lambda: self.simhash(docs, tracer), "simhash_near_pairs")
        raw = self.op_walls[-1][1] + self.op_walls[-2][1]
        if check and mh is not None and sh is not None:
            self.check_pairs(mh, sh)
        self.last = {"docs_per_s": self.spec["stats"]["pages"] / (wall_mh + wall_sh),
                     "wall": raw, "minhash_pairs": len(mh or []), "simhash_pairs": len(sh or [])}
        return self.last

    def rerun(self, tracer: Tracer | None = None) -> float:
        """Both pair functions over an empty delta: what a scheduled job
        with no new input pays."""
        from pyspark.sql import functions as F

        empty = self.docs().where(F.lit(False))
        with tracer.span("dedup.noop", op="rerun") if tracer else nullcontext():
            _, wall = self.timed(lambda: (self.minhash(empty), self.simhash(empty)), "rerun")
        return wall

    def check_pairs(self, mh, sh) -> None:
        with open(self.path(self.spec["planted_pairs"])) as f:
            planted = {tuple(p) for p in json.load(f)}
        mpairs = sorted((r["id_a"], r["id_b"]) for r in mh)
        spairs = sorted((r["id_a"], r["id_b"], r["hamming"]) for r in sh)
        well_formed = (all(a < b for a, b in mpairs) and len(set(mpairs)) == len(mpairs)
                       and all(a < b and h <= SIMHASH_MAX_HAMMING for a, b, h in spairs)
                       and len({p[:2] for p in spairs}) == len(spairs))
        digest = hashlib.sha256(json.dumps([mpairs, spairs]).encode()).hexdigest()[:16]
        self.recall = len(planted & set(mpairs)) / len(planted)
        ok = all([self.check("well_formed_pairs", well_formed),
                  self.check_digest(f"{len(mpairs)}:{len(spairs)}:{digest}"),
                  self.check("recall_positive", self.recall > 0)])
        self.record(ok, "near-dup pairs")

    def untraced(self, seconds: float) -> dict:
        # the first ops still run while the JIT compiles the hot loops; the
        # fastest of at least four counts. The reruns come last, when the
        # session is warmest.
        rates, t0 = [], time.perf_counter()
        while len(rates) < 4 or time.perf_counter() - t0 < seconds:
            rates.append(self.op()["docs_per_s"])
        reruns = [self.rerun() for _ in range(RERUNS)]
        return {"docs_per_s": max(rates), "rerun_s": fastest(reruns), "ops_timed": len(rates)}

    def traced(self, tracer: Tracer) -> dict:
        """Two untraced ops (the first still pays one-off costs), then a
        traced one. The traced wall is that of the spans the traced op's
        two calls are split into."""
        self.op()
        untraced = self.op()["wall"]
        held = []
        with tracer.span("sources.extract", op="dedup"):
            _, self.metrics["sources.pages"] = _force(self.docs(), held)
        held[0].unpersist()
        self.op(tracer)
        self.rerun(tracer)
        steps = [s for s in tracer.spans if s["name"] in DEDUP_STEPS]
        return {"untraced_wall": untraced, "traced_wall": sum(s["wall_s"] for s in steps),
                "steps": steps}

    def finish_metrics(self, spans: list[dict]) -> dict:
        m, r = self.metrics, self.last
        m["sources.extract_s"] = _walls(spans, "sources.extract")
        m["dedup.minhash_sig_s"] = _walls(spans, "dedup.minhash_sig")
        m["dedup.lsh_s"] = _walls(spans, "dedup.lsh")
        m["dedup.verify_s"] = _walls(spans, "dedup.verify")
        m["dedup.pairs"] = r["minhash_pairs"]
        m["dedup.candidate_yield"] = r["minhash_pairs"] / max(m["dedup.lsh_candidates"], 1)
        m["dedup.simhash_s"] = _walls(spans, "dedup.simhash")
        m["dedup.simhash_pairs"] = r["simhash_pairs"]
        return m


def main(spec_path: str) -> int:
    with open(spec_path) as f:
        spec = json.load(f)
    result: dict = {}
    spark = start_session(spec)
    start_wall, c0 = time.time() - spec["spawn_time"], host_cpu()
    # both setup steps, like every timed op, net of steal
    result["session.start_s"] = net_of_steal(start_wall, tuple(spec["spawn_cpu"]), c0)
    wl = (NearDup if spec["workload"] == "near_dup" else KG)(spark, spec)
    tracer = Tracer(spark) if spec["trace"] else None
    t0 = time.perf_counter()
    with tracer.span("session.warmup", op="warmup") if tracer else nullcontext():
        wl.warmup()
    warmup_wall = time.perf_counter() - t0
    result["session.warmup_s"] = net_of_steal(warmup_wall, c0, host_cpu())
    result["setup_wall_s"] = start_wall + warmup_wall
    wl.reset()
    if not spec["trace"]:
        result.update(wl.untraced(spec["seconds"]))
    else:
        summary = wl.traced(tracer)
        m = wl.finish_metrics(tracer.finish())
        for layer, tot in tracer.layer_totals().items():
            for k in ("jobs", "stages", "tasks", "failed_tasks"):
                m.setdefault(f"{layer}.{k}", tot[k])
        m["session.start_s"] = result["session.start_s"]
        m["session.warmup_s"] = result["session.warmup_s"]
        m["trace.coverage"] = sum(s["self_s"] for s in summary["steps"]) / summary["untraced_wall"]
        m["trace.overhead"] = summary["traced_wall"] / summary["untraced_wall"] - 1
        result["per_layer"] = m
        result["spans"] = [{k: s[k] for k in ("id", "name", "parent", "op", "start", "end",
                                              "self_s", "jobs", "stages", "tasks", "failed_tasks")}
                           for s in tracer.spans]
    result.update(attempted=wl.attempted, failed=wl.failed, failures=wl.failures,
                  digests=wl.digests, op_walls=wl.op_walls, checks=wl.checks, recall=wl.recall)
    spark.stop()
    with open(os.path.join(os.path.dirname(spec_path), "result.json"), "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
