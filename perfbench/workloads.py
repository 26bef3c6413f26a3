"""The three closed-loop workloads.

Each workload has ``setup`` (seeded inputs and their oracle), ``describe``
(input shares for the result file) and ``call`` (one closed-loop call:
its operations are timed, its outputs checked against the oracle).
``cycle`` is the number of calls in one schedule cycle; runs issue whole
cycles. All calls go through the library's public functions.
"""

from __future__ import annotations

import itertools
import math
import os
import shutil

from pyspark.sql import Observation, functions as F

import validate_spark as vs
from perfbench import inputs as I
from validate_spark.operators import dedup, drift, engine, refcheck, stats, uniq


def _ks(left: dict, right: dict, n_buckets: int) -> float:
    """Two-sample KS distance of two {bucket: count} histograms."""
    nl, nr = sum(left.values()), sum(right.values())
    cl = cr = d = 0.0
    for b in range(n_buckets):
        cl += left.get(b, 0) / nl
        cr += right.get(b, 0) / nr
        d = max(d, abs(cl - cr))
    return d


class BulkValidate:
    """validate -> rule_report() collected -> violations() to the noop
    sink -> write_routed to a parquet directory, over the documents table.
    The first call of every cycle of three carries a rule set the process
    has not seen; the other two hit the plan cache."""

    name = "bulk_validate"
    cycle = 3
    warmup = 3
    # unseen rule sets fail the same rows as SPANS_RULES: doc ids are 16
    # characters long or the 2-character 'dx', so every doc_id minLength
    # bound from 3 to 16 fails the same rows, and the enum order is moot
    UNSEEN_MINS = tuple(range(6, 17))
    UNSEEN_KINDS = tuple(itertools.permutations(I.KINDS))

    def setup(self, ctx) -> None:
        self.paths = I.write_docs(ctx.spark, ctx.seed, ctx.work)
        self.oracle = I.docs_oracle(self.paths, (I.DOC_ID_MIN, *self.UNSEEN_MINS))
        self.docs = ctx.spark.read.parquet(self.paths["docs"])

    def describe(self) -> dict:
        o = self.oracle
        r = o["rules"][I.DOC_ID_MIN]
        return {"rows": o["n_rows"], "rules": len(r["rule_fail"]),
                "failing_row_share": r["n_failing_rows"] / o["n_rows"],
                "violation_share": r["n_violations"] / (o["n_rows"] * len(r["rule_fail"])),
                "unseen_rule_set_share": 1 / self.cycle}

    def rule_args(self, i: int) -> tuple[int, tuple]:
        """(doc_id minLength bound, kind enum order) of call ``i``. Warm-up
        calls (i < 0) use SPANS_RULES (the first compiles it); timed call i
        is unseen when i % cycle == 0, and no two unseen calls of the first
        ``11 * 24`` share their rules."""
        if i >= 0 and i % self.cycle == 0:
            n = i // self.cycle
            return (self.UNSEEN_MINS[n % len(self.UNSEEN_MINS)],
                    self.UNSEEN_KINDS[(n // len(self.UNSEEN_MINS)) % len(self.UNSEEN_KINDS)])
        return I.DOC_ID_MIN, I.KINDS

    def call(self, ctx, i: int) -> int:
        m, kinds = self.rule_args(i)
        o, exp = self.oracle, self.oracle["rules"][m]
        with ctx.op("engine.validate"):
            res = vs.validate(self.docs, vs.RuleSet(rules=I.spans_rules(m, kinds)),
                              key_cols=["doc_id"])
        with ctx.op("engine.rule_report", action=True):
            rows = res.rule_report().collect()
        got = {(r["field"], r["validator"]): r["n_fail"] for r in rows}
        ctx.check("engine.rule_report", got == exp["rule_fail"], got)

        obs = Observation(f"violations-{i}")
        with ctx.op("engine.violations", action=True):
            (res.violations().observe(obs, F.count(F.lit(1)).alias("n"))
             .write.format("noop").mode("overwrite").save())
        n = obs.get["n"]
        ctx.check("engine.violations", n == exp["n_violations"], n)

        out = os.path.join(ctx.work, f"routed-{i}")
        with ctx.op("engine.write_routed", action=True):
            engine.write_routed(res, out)
        routed = I.routed_counts(out)
        shutil.rmtree(out)
        want = {"true": o["n_rows"] - exp["n_failing_rows"], "false": exp["n_failing_rows"]}
        ctx.check("engine.write_routed", routed == want, routed)
        return o["n_rows"]


class DatasetChecks:
    """Uniqueness (plain and salted), referential (broadcast anti-join and
    shuffle path), span-count drift between key-hash halves and column
    stats over the same documents table, never passed through validate."""

    name = "dataset_checks"
    cycle = 1
    warmup = 2
    DRIFT_BUCKETS = 8

    def setup(self, ctx) -> None:
        self.paths = I.write_docs(ctx.spark, ctx.seed, ctx.work)
        self.oracle = I.docs_oracle(self.paths)
        self.docs = ctx.spark.read.parquet(self.paths["docs"])
        self.catalog = ctx.spark.read.parquet(self.paths["catalog"])

    def describe(self) -> dict:
        o = self.oracle
        return {"rows": o["n_rows"], "duplicate_key_share": o["dup_keys"] / o["n_rows"],
                "dangling_refs": o["dangling"], "dangling_distinct_refs": o["dangling_distinct"]}

    def call(self, ctx, i: int) -> int:
        o, docs = self.oracle, self.docs
        with ctx.op("uniq.duplicate_keys", action=True):
            n = uniq.duplicate_keys(docs, "doc_id").count()
        ctx.check("uniq.duplicate_keys", n == o["dup_keys"], n)
        with ctx.op("uniq.duplicate_keys_salted", action=True):
            n = uniq.duplicate_keys(docs, "doc_id", salt_buckets=8).count()
        ctx.check("uniq.duplicate_keys_salted", n == o["dup_keys"], n)

        with ctx.op("refcheck.dangling_span_refs", action=True):
            n = refcheck.dangling_span_refs(docs, self.catalog).count()
        ctx.check("refcheck.dangling_span_refs", n == o["dangling"], n)
        refs = docs.select(F.explode("spans.media_ref").alias("media_ref"))
        with ctx.op("refcheck.dangling_ref_counts", action=True):
            row = (refcheck.dangling_ref_counts(refs, "media_ref", self.catalog)
                   .agg(F.count(F.lit(1)).alias("n"), F.sum("n_occurrences").alias("occ"))
                   .collect()[0])
        got = (row["n"], row["occ"])
        ctx.check("refcheck.dangling_ref_counts",
                  got == (o["dangling_distinct"], o["dangling"]), got)

        half = F.substring(F.md5("doc_id"), 1, 1) < "8"
        sized = docs.filter(F.col("doc_id").isNotNull()).select(
            half.alias("h"), F.size("spans").alias("n_spans"))
        with ctx.op("drift.numeric_drift", action=True):
            rep = drift.numeric_drift(
                sized.filter("h"), sized.filter("NOT h"), "n_spans",
                lo=0.0, hi=float(self.DRIFT_BUCKETS), n_buckets=self.DRIFT_BUCKETS, method="ks",
            )
        left, right = o["span_hist"][True], o["span_hist"][False]
        ok = (rep.n_left, rep.n_right) == (sum(left.values()), sum(right.values())) and math.isclose(
            rep.statistic, _ks(left, right, self.DRIFT_BUCKETS), rel_tol=1e-9, abs_tol=1e-12)
        ctx.check("drift.numeric_drift", ok, rep)

        with ctx.op("stats.column_stats", action=True):
            rows = stats.column_stats(docs).collect()
        got = {r["column"]: {k: r[k] for k in o["column_stats"][r["column"]]} for r in rows}
        ctx.check("stats.column_stats", got == o["column_stats"], got)
        return o["n_rows"]


class NearDup:
    """minhash_dedup_pairs -> dedup_clusters over a seeded corpus whose
    near duplicates are planted."""

    name = "near_dup"
    cycle = 1
    warmup = 2
    THRESHOLD = 0.8

    def setup(self, ctx) -> None:
        path, self.pairs = I.write_near_dup(ctx.seed, ctx.work)
        self.df = ctx.spark.read.parquet(path)
        self.n_docs = I.ND_BASE_DOCS + len(self.pairs)
        self.clusters = {(m, min(p)) for p in self.pairs for m in p}

    def describe(self) -> dict:
        return {"docs": self.n_docs, "planted_pairs": len(self.pairs),
                "near_dup_share": len(self.pairs) / I.ND_BASE_DOCS, "threshold": self.THRESHOLD}

    def call(self, ctx, i: int) -> int:
        with ctx.op("dedup.minhash_dedup_pairs", action=True):
            rows = dedup.minhash_dedup_pairs(self.df, threshold=self.THRESHOLD).select("a", "b").collect()
        got = {tuple(sorted((r["a"], r["b"]))) for r in rows}
        ctx.check("dedup.minhash_dedup_pairs", got == self.pairs and len(rows) == len(got),
                  (len(rows), len(got ^ self.pairs)))

        # clusters are computed from the pairs as a pipeline would
        # re-read them, not from the (uncached) pairs plan
        pairs = ctx.spark.createDataFrame(sorted(got), "a string, b string")
        with ctx.op("dedup.dedup_clusters", action=True):
            rows = dedup.dedup_clusters(pairs).collect()
        got = {(r["member"], r["cluster"]) for r in rows}
        ctx.check("dedup.dedup_clusters", got == self.clusters, len(got ^ self.clusters))
        return self.n_docs


WORKLOADS = {w.name: w for w in (BulkValidate, DatasetChecks, NearDup)}
