"""The three benchmark workloads.

Each workload builds its inputs from ``trafaret_spark.datagen`` with the
run's seed, persists them, and exposes:

* ``call(out_dir)``       one job: the public entry points of its layers;
* ``quick_check(r, r0)``  a cheap check of one call's result against the
                          first call's (run after every call, untimed);
* ``full_check(out_dir)`` the output invariants and an order-independent
                          digest of the output rows (run once, untimed);
* ``layers(tracer)``      the traced suite: one span per layer call, each on
                          a persisted input, plus derived counts.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from perfbench.digest import digest_rows
from perfbench.harness import materialize

__all__ = ["WORKLOADS", "FeaturesRaw", "CurationNeardup", "NeardupPairs"]


def _persist(df, held: list):
    """Persist ``df`` and remember it in ``held`` for a later unpersist."""
    held.append(df.persist())
    return df


def _kept_span(tr, name: str, make, held: list):
    """Span ``name`` around ``make()`` (the layer call, which may run eager
    jobs) and a persist + count of its output; returns the persisted frame
    for the next layer."""
    box = []

    def go():
        box.append(_persist(make(), held))
        return box[0].count()
    tr.span(name, go)
    return box[0]


class Workload:
    name = ""
    # untimed calls after the cold call, and the least number of timed
    # calls; perfbench/drift_study.json shows why (call times level off by
    # calls 5-8, so the timed window is calls 7-10, for features_raw 5-8)
    warmup = 6
    min_calls = 4
    # JVM launches per run, each with its own session, input build and cold
    # call; setup_s is their median, cold_job_s their fastest (DESIGN.md)
    launches = 1

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed
        self.held: list = []

    def _keep(self, df):
        """Persist ``df`` until :meth:`release`."""
        return _persist(df, self.held)

    def release(self) -> None:
        for df in self.held:
            df.unpersist()
        self.held.clear()

    def materialize_inputs(self) -> int:
        """Build and persist the inputs; returns the input row count."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# features_raw: validate -> as-of -> features -> bucketed write -> manifest
# ---------------------------------------------------------------------------

def _turn_budget(tr, n: int) -> "tuple[str, int]":
    """Where the first ``n`` turns of ``tr`` in (conv_id, turn_idx) order
    end: the conv_id of the conversation the budget ends in and how many of
    its turns it keeps."""
    counts = tr.groupBy("conv_id").count().orderBy("conv_id").collect()
    left = n
    for row in counts:
        if row["count"] >= left:
            return row["conv_id"], left
        left -= row["count"]
    raise ValueError(f"{n - left} turns generated, {n} wanted")


class FeaturesRaw(Workload):
    name = "features_raw"
    # Turn counts per conversation are skewed, so the turns of a fixed
    # number of conversations vary by about 5% from seed to seed, and
    # rows_per_s with them (job_s is mostly fixed per-call cost here).
    # Conversations are generated beyond need and cut to a fixed turn
    # budget instead: a seed varies the content, not the volume.
    n_turns = 19_000
    n_convs = 400
    hot_turns = 1000
    n_buckets = 8
    tolerance_s = 6 * 3600.0
    # one cold call per run spread by up to 0.25 over ten runs; a second
    # launch costs about 17 s, paid for with two fewer warm-up calls (the
    # timed window, calls 5-8, agreed across processes as well as
    # calls 7-10 in drift_study.json)
    launches = 2
    warmup = 4

    def materialize_inputs(self) -> int:
        from trafaret_spark import datagen
        s, seed = self.spark, self.seed
        tr = datagen.transcripts(s, n_convs=self.n_convs, seed=seed,
                                 hot_convs=2, hot_turns=self.hot_turns)
        last, n_last = _turn_budget(tr, self.n_turns)
        conv = F.col("conv_id")
        tr = tr.filter((conv < last)
                       | ((conv == last) & (F.col("turn_idx") < n_last)))
        self.raw = self._keep(datagen.to_raw_strings(tr, seed=seed))
        self.ev = self._keep(datagen.conv_events(s, n_convs=self.n_convs,
                                                 seed=seed)
                             .filter(conv <= last))
        self.ev.count()
        self.n_input = self.raw.count()
        return self.n_input

    def _cfg(self, out_dir: str):
        from trafaret_spark.pipeline import PipelineConfig
        return PipelineConfig(
            output_path=os.path.join(out_dir, "features"),
            quarantine_path=os.path.join(out_dir, "quarantine"),
            manifest_dir=os.path.join(out_dir, "manifest"),
            n_buckets=self.n_buckets, asof_tolerance_s=self.tolerance_s)

    def call(self, out_dir: str) -> dict:
        from trafaret_spark.pipeline import run_pipeline
        r = run_pipeline(self.spark, self.raw, self.ev, self._cfg(out_dir))
        return {k: r[k] for k in ("n_rows", "n_valid", "n_quarantined",
                                  "buckets_done", "resumed_noop")}

    def quick_check(self, r: dict, first: dict) -> "list[str]":
        errs = []
        if r["resumed_noop"]:
            errs.append("run_pipeline resumed as a no-op")
        if r["n_valid"] + r["n_quarantined"] != self.n_input:
            errs.append(f"valid {r['n_valid']} + quarantined "
                        f"{r['n_quarantined']} != input {self.n_input}")
        if r != first:
            errs.append(f"summary {r} differs from first call {first}")
        return errs

    def full_check(self, out_dir: str, r: dict) -> "tuple[list[str], str]":
        from trafaret_spark.io import read_table
        s = self.spark
        out = read_table(s, os.path.join(out_dir, "features"))
        q = read_table(s, os.path.join(out_dir, "quarantine"))
        errs = []
        n_out, n_q = out.count(), q.count()
        if n_out != r["n_valid"] or n_q != r["n_quarantined"]:
            errs.append(f"tables hold {n_out}+{n_q} rows, summary says "
                        f"{r['n_valid']}+{r['n_quarantined']}")
        if n_out + n_q != self.n_input:
            errs.append(f"valid+quarantined {n_out + n_q} != input "
                        f"{self.n_input}")
        # text is byte-equal to the input under (conv_id, turn_idx)
        src = self.raw.select("conv_id",
                              F.col("turn_idx").cast("int").alias("turn_idx"),
                              "text")
        stray = out.select("conv_id", "turn_idx", "text").exceptAll(src)
        n_stray = stray.count()
        if n_stray:
            errs.append(f"{n_stray} output rows whose text differs from input")
        # every as-of match is an event of the same conversation at or
        # before the turn (and within tolerance)
        matched = out.filter(F.col("score").isNotNull()) \
            .select("conv_id", "turn_idx", "ts", "score", "state")
        ev = self.ev.select("conv_id", F.col("ts").alias("ev_ts"),
                            F.col("score").alias("ev_score"),
                            F.col("state").alias("ev_state"))
        ok = (matched.join(ev, "conv_id")
              .filter((F.col("ev_score") == F.col("score"))
                      & (F.col("ev_state") == F.col("state"))
                      & (F.col("ev_ts") <= F.col("ts"))
                      & (F.col("ev_ts") >= F.col("ts")
                         - F.expr(f"INTERVAL {int(self.tolerance_s)} SECONDS")))
              .select("conv_id", "turn_idx").distinct().count())
        n_matched = matched.count()
        if ok != n_matched:
            errs.append(f"{n_matched - ok} as-of matches later than their "
                        "turn or outside tolerance")
        cols = sorted(c for c in out.columns if c != "bucket")
        return errs, digest_rows(out.select(*cols).collect())

    def layers(self, tr) -> dict:
        import trafaret_spark as ts
        from trafaret_spark import io as tio
        from trafaret_spark import pipeline
        from trafaret_spark.checkpoint import Manifest, bucket_metrics
        from trafaret_spark.operators.asof import asof_join
        nb = self.n_buckets
        held = []

        def keep(df):
            return _persist(df, held)

        # the pipeline's own stage order and arguments, one span per layer
        schema = pipeline.transcript_schema(raw_ts=True)
        parts = {}

        def validate():
            v = ts.apply_schema(self.raw, schema).withColumn(
                "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(nb)))
            parts["validated"] = keep(v)
            v.count()
            valid, quarantine = ts.split_valid(v)
            parts["valid"] = keep(valid)
            parts["quarantined"] = quarantine.count()
            return valid.count()
        tr.span("validate.apply_schema", validate)
        validated = parts["validated"]

        enriched = keep(
            parts["valid"].withColumn("text_len", F.length("text"))
            .withColumn("is_tool_turn", (F.col("role") == "tool").cast("int")))
        enriched.count()
        joined = _kept_span(tr, "asof.asof_join", lambda: asof_join(
            enriched, self.ev, on="ts", by="conv_id", direction="backward",
            tolerance=self.tolerance_s), held)
        feats = _kept_span(tr, "features.apply",
                           lambda: pipeline._features().apply(joined), held)
        ordered = keep(feats.repartitionByRange(
            self.spark.sparkContext.defaultParallelism, "conv_id", "turn_idx")
            .sortWithinPartitions("conv_id", "turn_idx"))
        n_ordered = ordered.count()

        def write():
            tio.write_bucketed(ordered, tr.out_path("features"),
                               key="conv_id", n_buckets=nb, mode="overwrite")
            return n_ordered
        tr.span("io.write_bucketed", write)

        def stamp():
            m = Manifest(tr.out_path("manifest"), nb)
            return m.stamp_from_metrics_df(bucket_metrics(validated),
                                           {"app_id": "perfbench"})
        tr.span("checkpoint.stamp", stamp)
        for df in held:
            df.unpersist()
        tr.span("pipeline.run_pipeline",
                lambda: self.call(tr.out_path("pipeline"))["n_valid"])
        return {"validate.rows_quarantined": parts["quarantined"]}


# ---------------------------------------------------------------------------
# curation_neardup: stutter -> structural -> exact -> minhash near-dup ->
# truncate -> bucketed write, with the exact audit tier
# ---------------------------------------------------------------------------

class CurationNeardup(Workload):
    name = "curation_neardup"
    n_convs = 300
    threshold = 0.8
    max_tokens = 600
    n_buckets = 8
    stages = ("input", "stutter", "structural", "exact_dedup", "near_dedup",
              "truncate")

    def materialize_inputs(self) -> int:
        from trafaret_spark import datagen
        self.turns = self._keep(datagen.clone_transcripts(
            self.spark, n_convs=self.n_convs, seed=self.seed))
        self.n_input = self.turns.count()
        return self.n_input

    def _cfg(self, out_dir: str, audit: str = "exact"):
        from trafaret_spark.curation_pipeline import CurationConfig
        return CurationConfig(output_path=os.path.join(out_dir, "curated"),
                              neardup_threshold=self.threshold,
                              max_tokens=self.max_tokens,
                              n_buckets=self.n_buckets, audit=audit)

    def call(self, out_dir: str, audit: str = "exact") -> dict:
        from trafaret_spark.curation_pipeline import run_curation
        a = run_curation(self.spark, self.turns, self._cfg(out_dir, audit))
        return {"stages": a["stages"], "final": a.get("final")}

    def quick_check(self, r: dict, first: dict) -> "list[str]":
        errs = []
        st = r["stages"]
        if tuple(st) != self.stages:
            errs.append(f"audit stages {list(st)}")
            return errs
        if st["input"]["turns"] != self.n_input:
            errs.append(f"audit input {st['input']['turns']} != "
                        f"{self.n_input}")
        for key in ("turns", "conversations"):
            seq = [st[k][key] for k in self.stages]
            if any(b > a for a, b in zip(seq, seq[1:])):
                errs.append(f"audit {key} grow across stages: {seq}")
        if st["near_dedup"].get("dropped_rows", 0):
            errs.append("near-dup hot-bucket cap dropped rows")
        if r != first:
            errs.append("audit differs from the first call")
        return errs

    def full_check(self, out_dir: str, r: dict) -> "tuple[list[str], str]":
        from trafaret_spark.io import read_table
        out = read_table(self.spark, os.path.join(out_dir, "curated"))
        cols = self.turns.columns
        errs = []
        final = r["stages"]["truncate"]
        got = out.agg(F.count(F.lit(1)).alias("t"),
                      F.countDistinct("conv_id").alias("c")).collect()[0]
        if (got["t"], got["c"]) != (final["turns"], final["conversations"]):
            errs.append(f"output holds {got['t']} turns / {got['c']} "
                        f"conversations, audit says {final}")
        stray = out.select(*cols).exceptAll(self.turns).count()
        if stray:
            errs.append(f"{stray} survivor rows not byte-identical to input")
        return errs, digest_rows(out.select(*sorted(cols)).collect())

    def layers(self, tr) -> dict:
        from trafaret_spark.operators import conversations as conv
        from trafaret_spark.operators import dedup
        from trafaret_spark.operators.textstats import token_count
        held = []

        def keep(df):
            return _persist(df, held)

        # run_curation's stage order and arguments, one span per layer call
        st = _kept_span(tr, "conversations.dedup_stutter",
                        lambda: conv.dedup_stutter(self.turns), held)
        rep = _kept_span(tr, "conversations.conversation_report",
                         lambda: conv.conversation_report(st, ts_col="ts"),
                         held)
        valid = keep(st.join(rep.filter(~F.col("is_valid")).select("conv_id"),
                             ["conv_id"], "left_anti"))
        valid.count()
        exact = _kept_span(tr, "conversations.dedup_conversations",
                           lambda: conv.dedup_conversations(valid), held)
        near = _kept_span(tr, "conversations.neardup_conversations",
                          lambda: conv.neardup_conversations(
                              exact, threshold=self.threshold,
                              on_drop="warn", drop_stats={}), held)
        tr.span("conversations.truncate_turns", lambda: materialize(
            conv.truncate_turns(near.withColumn(
                "__n_tokens", token_count(F.col("text")).cast("long")),
                self.max_tokens, token_col="__n_tokens")))

        # the dedup calls inside the near-dup stage, on the same survivors
        rendered = keep(conv.render_conversation(exact, out_col="__render"))
        rendered.count()
        cands = _kept_span(tr, "dedup.minhash_lsh_candidates",
                           lambda: dedup.minhash_lsh_candidates(
                               rendered, text_col="__render",
                               id_col="conv_id"), held)
        verified = _kept_span(tr, "dedup.jaccard", lambda: dedup.jaccard(
            cands, rendered, text_col="__render", id_col="conv_id"), held)
        pairs = keep(verified.filter(F.col("jaccard") >= self.threshold))
        n_pairs = pairs.count()
        tr.span("dedup.keep_canonical", lambda: materialize(
            dedup.keep_canonical(exact, pairs, id_col="conv_id")))
        for df in held:
            df.unpersist()

        # the audit's cost: the same run with audit="off", minus it
        full, off = "curation_pipeline.run_curation", "run_curation.audit_off"
        tr.span(full, lambda: self.call(
            tr.out_path("curated"))["stages"]["truncate"]["turns"])
        tr.span(off, lambda: self.call(tr.out_path("curated_off"),
                                       audit="off") and 0)
        on_s, off_s = tr.spans[full], tr.spans.pop(off)
        n_cands = tr.spans["dedup.minhash_lsh_candidates"]["rows_out"]
        return {"dedup.pairs_per_candidate": n_pairs / max(n_cands, 1),
                "curation_pipeline.audit.s": on_s["s"] - off_s["s"],
                "curation_pipeline.audit.jobs": on_s["jobs"] - off_s["jobs"]}


# ---------------------------------------------------------------------------
# neardup_pairs: the pair kernels, each to the noop sink
# ---------------------------------------------------------------------------

class NeardupPairs(Workload):
    name = "neardup_pairs"
    n_vecs = 2000
    n_docs = 2000
    n_queries = 20
    k = 5
    cos_threshold = 0.9
    jac_threshold = 0.9

    def materialize_inputs(self) -> int:
        from trafaret_spark import datagen
        s, cores = self.spark, self.spark.sparkContext.defaultParallelism
        self.emb = self._keep(
            datagen.embeddings(s, n_vecs=self.n_vecs, dim=64, seed=self.seed)
            .select("vec_id",
                    F.col("embedding").cast("array<double>").alias("embedding"))
            .repartition(cores))
        self.docs = self._keep(datagen.documents(
            s, n_docs=self.n_docs, seed=self.seed).repartition(cores))
        self.queries = self._keep(
            self.emb.filter(F.col("vec_id") < self.n_queries)
            .select(F.col("vec_id").alias("query_id"), "embedding"))
        self.n_input = self.emb.count() + self.docs.count()
        self.queries.count()
        return self.n_input

    def _outputs(self):
        from trafaret_spark.operators import dedup, similarity
        return {
            "similarity.cosine_neardup": similarity.cosine_neardup(
                self.emb, threshold=self.cos_threshold, nbits=6, bands=8),
            "similarity.cosine_topk": similarity.cosine_topk(
                self.emb, self.queries, k=self.k),
            "dedup.ngram_jaccard_pairs": dedup.ngram_jaccard_pairs(
                self.docs, block_cols=["lang"], threshold=self.jac_threshold,
                n=1, max_block_size=5000, on_drop="ignore"),
        }

    def call(self, out_dir: str) -> dict:
        """Each kernel to the noop sink; returns its row count, observed in
        the same action."""
        return {k: materialize(df) for k, df in self._outputs().items()}

    def quick_check(self, r: dict, first: dict) -> "list[str]":
        if r != first:
            return [f"row counts {r} differ from first call {first}"]
        return []

    def full_check(self, out_dir: str, r: dict) -> "tuple[list[str], str]":
        outs = {k: v.collect() for k, v in self._outputs().items()}
        errs = [f"{name}: {len(rows)} rows, the last call counted {r[name]}"
                for name, rows in outs.items() if len(rows) != r[name]]
        for name, thr, col in (("similarity.cosine_neardup",
                                self.cos_threshold, "sim"),
                               ("dedup.ngram_jaccard_pairs",
                                self.jac_threshold, "jaccard")):
            rows = outs[name]
            keys = [(row["a"], row["b"]) for row in rows]
            if any(a >= b for a, b in keys):
                errs.append(f"{name}: a pair with a >= b")
            if len(set(keys)) != len(keys):
                errs.append(f"{name}: duplicate pairs")
            if any(row[col] is None or row[col] < thr for row in rows):
                errs.append(f"{name}: {col} below threshold {thr}")
            if not rows:
                errs.append(f"{name}: no pairs")
        per_q: "dict[int, list]" = {}
        for row in outs["similarity.cosine_topk"]:
            per_q.setdefault(row["query_id"], []).append(row["rank"])
        if len(per_q) != self.n_queries or any(
                sorted(v) != list(range(1, self.k + 1))
                for v in per_q.values()):
            errs.append("similarity.cosine_topk: not k ranked rows per query")
        digest = digest_rows([(name, tuple(row)) for name, rows in
                              sorted(outs.items()) for row in rows])
        return errs, digest

    def layers(self, tr) -> dict:
        for name, df in self._outputs().items():
            tr.span(name, lambda df=df: materialize(df))
        return {}


WORKLOADS = {w.name: w for w in (FeaturesRaw, CurationNeardup, NeardupPairs)}
