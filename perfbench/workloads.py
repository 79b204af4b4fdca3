"""The benchmark's three workloads: seeded inputs, the entry point each
calls, and the check of each repetition's output.

A workload object is built per run.  ``setup`` generates and materializes
the seeded input (called several times; the last call's input is used),
``call`` runs one repetition through the package entry point and commits
its output, and ``check`` verifies that output doc by doc.
"""

from __future__ import annotations

import json
import math
import os
import random
import time
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from jochre3_ocr_spark.functions.lexicon import Lexicon
from jochre3_ocr_spark.operators import dedup
from jochre3_ocr_spark.operators.kernel import process_document_safe
from jochre3_ocr_spark.plans import pipeline
from jochre3_ocr_spark.sources.corpus import docs_df, lexicon_words

#: a 1-4 page document has at most 4 pages x 3 blocks x (block + media +
#: 5 lines x 14 spans) = 864 spans; the generator's giant class (50-200
#: pages) starts near 3 000.  Anything above this cut is giant-class.
GIANT_CLASS_MIN_SPANS = 1_500
#: span counts the chosen giants are spread over: the bulk of the giant
#: class, whose docs have about 2 300 to 12 100 spans
GIANT_TARGET_SPANS = (3_000, 11_000)


class CheckResult(NamedTuple):
    failed_ids: set  # docs whose output row is missing, duplicated or wrong
    digest: str  # order-independent digest of the whole output
    details: dict


# ------------------------------------------------------------- extraction
class ExtractWorkload:
    """``plans.pipeline.run_job`` over a parquet corpus written from
    ``sources.corpus.docs_df``.

    The input is drawn from the first ``stream_docs`` docs of the seeded
    stream: ``n_normal`` normal docs at evenly spaced quantiles of their
    span counts, plus the ``n_giant`` giant-class docs nearest to span
    counts evenly spaced over :data:`GIANT_TARGET_SPANS`.  These picks keep
    the total work nearly constant across seeds (interquartile spread of
    the total span count 1.4 % over seeds 1-100), so a seed changes the
    documents but not the amount of work."""

    split = (pipeline, "extract_with_salting")
    #: untimed warm-up repetitions per run: the first repetitions of a
    #: fresh JVM run up to 30 % slower than the later ones (JIT, codegen,
    #: Python worker start)
    warmup_reps = 2

    def __init__(self, name, seed, n_normal, n_giant, stream_docs, n_sample):
        self.name = name
        self.seed = seed
        self.n_normal = n_normal
        self.n_giant = n_giant
        self.stream_docs = stream_docs
        self.n_sample = n_sample
        self.lexicon_words = lexicon_words()
        self.expected = None

    @property
    def sizes(self) -> dict:
        return {
            "docs": self.n_normal + self.n_giant,
            "normal_docs": self.n_normal,
            "giant_docs": self.n_giant,
            "stream_docs": self.stream_docs,
        }

    def _choose(self, stream) -> list[str]:
        normal = sorted((n, d) for d, n in stream if n <= GIANT_CLASS_MIN_SPANS)
        giants = [(n, d) for d, n in stream if n > GIANT_CLASS_MIN_SPANS]
        if len(normal) < self.n_normal or len(giants) < self.n_giant:
            raise RuntimeError(
                f"seed {self.seed}: {len(normal)} normal / {len(giants)} giant "
                f"docs in the first {self.stream_docs}, need "
                f"{self.n_normal} / {self.n_giant}"
            )
        picked = [
            normal[(2 * i + 1) * len(normal) // (2 * self.n_normal)][1]
            for i in range(self.n_normal)
        ]
        lo, hi = GIANT_TARGET_SPANS
        salted = pipeline.GIANT_THRESHOLD_SPANS
        for i in range(self.n_giant):
            target = lo + (i + 0.5) * (hi - lo) / self.n_giant
            # from the target's side of the salting threshold when it has
            # any left (99 of seeds 1-100), so that the number of salted
            # giants is the same whatever the seed
            pool = [g for g in giants if (g[0] > salted) == (target > salted)] or giants
            nearest = min(pool, key=lambda g: (abs(g[0] - target), g[1]))
            giants.remove(nearest)
            picked.append(nearest[1])
        return picked

    def _files(self, chosen: list[str], n_files: int) -> dict[str, int]:
        """Input file of each chosen doc.  Narrow-path docs are packed
        largest first into the file with the fewest spans so far, and the
        salted giants are dealt round-robin, so every file -- one scan task
        each -- carries the same kernel work whatever the seed."""
        narrow = [d for d in chosen if self.n_spans[d] <= pipeline.GIANT_THRESHOLD_SPANS]
        salted = sorted(set(chosen) - set(narrow))
        load = [0] * n_files
        files = {}
        for d in sorted(narrow, key=lambda d: (-self.n_spans[d], d)):
            f = load.index(min(load))
            files[d] = f
            load[f] += self.n_spans[d]
        for i, d in enumerate(salted):
            files[d] = i % n_files
        return files

    def setup(self, spark, work: str) -> str:
        staging = os.path.join(work, "stream")
        path = os.path.join(work, "input")
        docs_df(spark, self.stream_docs, seed=self.seed).write.mode(
            "overwrite"
        ).parquet(staging)
        stream = sorted(
            (r["doc_id"], r["n_in_spans"])
            for r in spark.read.parquet(staging)
            .select("doc_id", "n_in_spans")
            .collect()
        )
        self.n_spans = dict(stream)
        chosen = self._choose(stream)
        # one file per slot: repartition(n, key) hashes the key, so each
        # file index is mapped to a key that hashes to that partition
        n_files = spark.sparkContext.defaultParallelism
        key_of = {}
        for r in spark.range(64 * n_files).select(
            "id", F.pmod(F.hash("id"), F.lit(n_files)).alias("p")
        ).collect():
            key_of.setdefault(r["p"], r["id"])
        placement = spark.createDataFrame(
            [(d, key_of[f]) for d, f in self._files(chosen, n_files).items()],
            "doc_id string, file_key long",
        )
        spark.read.parquet(staging).join(
            F.broadcast(placement), "doc_id"
        ).repartition(n_files, "file_key").drop("file_key").write.mode(
            "overwrite"
        ).parquet(path)
        self.doc_ids = set(chosen)
        return path

    def call(self, spark, input_path: str, out: str) -> None:
        pipeline.run_job(spark, input_path, out, self.lexicon_words)

    def kernel_sample(self, spark, input_path: str) -> dict:
        """Normal-path docs run in-process through ``process_document_safe``
        (a seeded sample of the normal class, and two of the giant-class
        docs below the salting threshold): the expected output rows of the
        check, and the kernel's own cost (second pass, caches warm),
        scaled by span count to a whole-input ms per doc."""
        rng = random.Random(self.seed)
        normal = sorted(
            d for d in self.doc_ids if self.n_spans[d] <= GIANT_CLASS_MIN_SPANS
        )
        giant = sorted(
            d for d in self.doc_ids
            if GIANT_CLASS_MIN_SPANS < self.n_spans[d] <= pipeline.GIANT_THRESHOLD_SPANS
        )
        sample = rng.sample(normal, min(self.n_sample, len(normal))) + rng.sample(
            giant, min(2, len(giant))
        )
        rows = (
            spark.read.parquet(input_path)
            .filter(F.col("doc_id").isin(sample))
            .select("doc_id", "spans_json")
            .collect()
        )
        spans = {
            r["doc_id"]: [
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in json.loads(r["spans_json"])
            ]
            for r in rows
        }
        lexicon = Lexicon(frozenset(self.lexicon_words))

        def run_all():
            return {d: process_document_safe(d, spans[d], lexicon) for d in sample}

        run_all()
        t0 = time.perf_counter()
        self.expected = run_all()
        elapsed = time.perf_counter() - t0
        per_span = elapsed / sum(self.n_spans[d] for d in sample)
        input_spans = sum(self.n_spans[d] for d in self.doc_ids)
        return {
            "ms_per_doc": 1e3 * per_span * input_spans / len(self.doc_ids),
            "docs": len(sample),
        }

    def check(self, spark, out: str) -> CheckResult:
        """One pass over the output: every row's id, status and hash, and
        the full row of each sampled doc."""
        df = spark.read.parquet(out)
        sampled = F.col("doc_id").isin(list(self.expected))
        cols = [F.coalesce(F.col(c).cast("string"), F.lit("\0")) for c in df.columns]
        got = df.select(
            "doc_id", "status", F.xxhash64(*cols).alias("h"),
            *(F.when(sampled, F.col(c)).alias(c)
              for c in ("spans_json", "text", "processed_text")),
        ).toPandas()
        counts = got["doc_id"].value_counts()
        failed = set(self.doc_ids - set(counts.index))  # missing
        failed |= set(counts[counts != 1].index)  # duplicated
        failed |= set(got.loc[got["status"] != "ok", "doc_id"])
        mismatched = set(self.expected)
        for r in got[got["doc_id"].isin(self.expected)].itertuples():
            exp = self.expected[r.doc_id]
            got_spans = [
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in json.loads(r.spans_json)
            ]
            if (
                got_spans == [tuple(s) for s in exp["spans"]]
                and r.text == exp["text"]
                and r.processed_text == exp["processed_text"]
            ):
                mismatched.discard(r.doc_id)
        failed |= mismatched
        digest = np.bitwise_xor.reduce(got["h"].to_numpy(np.int64), initial=0)
        return CheckResult(
            failed,
            f"{len(got)}:{digest}",
            {"rows": len(got), "sample_mismatched": len(mismatched)},
        )


# ------------------------------------------------------------------ dedup
class DedupWorkload:
    """``operators.dedup.dedup_corpus`` (library defaults) over a seeded
    adversarial corpus: one exact-duplicate group, one near-duplicate group
    and unique docs, with the group members scattered over the id space
    by a seeded permutation.  The verdicts are closed-form: every member
    of a group clusters to the group's smallest doc_id, which is the only
    member kept; every unique doc is its own kept cluster."""

    split = (dedup, "dedup_corpus")
    #: one warm-up: a repetition takes 10-20 s, and a second warm-up would
    #: push the runs of the benchmark past their time budget
    warmup_reps = 1

    def __init__(self, name, seed, n_exact, n_near, n_unique, n_sample):
        if n_exact - 1 <= dedup._CC_DRIVER_MAX_PAIRS:
            raise RuntimeError(
                "the exact group must yield more candidate pairs than the "
                "driver union-find cap, so the distributed path runs"
            )
        self.name = name
        self.seed = seed
        self.n_exact = n_exact
        self.n_near = n_near
        self.n_unique = n_unique
        self.n_total = n_exact + n_near + n_unique
        self.n_sample = n_sample
        self.doc_ids = {f"d{i:07d}" for i in range(self.n_total)}
        self._expected = self._expected_verdicts()

    @property
    def sizes(self) -> dict:
        return {
            "docs": self.n_total,
            "exact_group": self.n_exact,
            "near_group": self.n_near,
            "unique_docs": self.n_unique,
        }

    def _permutation(self) -> tuple[int, int]:
        """Seeded affine bijection ``rank(i) = (a*i + b) mod n_total`` of the
        doc indices: the first ``n_exact`` ranks form the exact group, the
        next ``n_near`` the near group.  Evaluated the same way in numpy
        (expected verdicts) and in Spark SQL (the corpus)."""
        rng = random.Random(self.seed)
        a = rng.randrange(1, self.n_total)
        while math.gcd(a, self.n_total) != 1:
            a += 1
        return a, rng.randrange(self.n_total)

    def _expected_verdicts(self) -> pd.DataFrame:
        a, b = self._permutation()
        rank = (a * np.arange(self.n_total, dtype=np.int64) + b) % self.n_total
        roles = np.where(
            rank < self.n_exact, 0, np.where(rank < self.n_exact + self.n_near, 1, 2)
        )
        ids = np.array([f"d{i:07d}" for i in range(self.n_total)])
        cluster = ids.copy()
        for role in (0, 1):
            members = np.flatnonzero(roles == role)
            cluster[members] = ids[members.min()]
        return pd.DataFrame({"cluster_id": cluster, "keep": cluster == ids}, index=ids)

    def setup(self, spark, work: str) -> str:
        """The corpus, generated by JVM expressions only (no Python worker
        is started by set-up on this workload)."""
        path = os.path.join(work, "input")
        a, b = self._permutation()
        rng = random.Random(self.seed)

        def words(prefix, n):
            return " ".join(f"{prefix}{rng.randrange(50_000):05d}" for _ in range(n))

        # a short boilerplate text (an empty template page) for the exact
        # group; near-group members append one unique token to a shared
        # 110-token text, so they differ in a single shingle and share
        # almost every LSH band
        exact_text, near_base = words("e", 12), words("n", 110)
        rank = F.pmod(F.lit(a) * F.col("id") + F.lit(b), F.lit(self.n_total))
        unique_text = F.concat_ws(" ", F.transform(
            F.sequence(F.lit(0), F.lit(79)),
            lambda k: F.concat(F.lit("w"), F.lpad(
                F.pmod(F.xxhash64(F.lit(self.seed), F.col("id"), k), F.lit(50_000))
                .cast("string"), 5, "0")),
        ))
        doc_id = F.concat(F.lit("d"), F.lpad(F.col("id").cast("string"), 7, "0"))
        text = (
            F.when(rank < self.n_exact, F.lit(exact_text))
            .when(rank < self.n_exact + self.n_near,
                  F.concat(F.lit(near_base + " m"), doc_id))
            .otherwise(unique_text)
        )
        parts = 2 * spark.sparkContext.defaultParallelism
        spark.range(self.n_total, numPartitions=parts).select(
            doc_id.alias("doc_id"), text.alias("text")
        ).write.mode("overwrite").parquet(path)
        return path

    def call(self, spark, input_path: str, out: str) -> None:
        verdicts = dedup.dedup_corpus(spark.read.parquet(input_path))
        verdicts.write.parquet(out)

    def kernel_sample(self, spark, input_path: str) -> dict:
        """The extraction kernel over a seeded sample of this corpus' texts
        (tokenized as ``extract_text_df`` does): predicted not to move on
        this workload, where no Python stage runs."""
        sample = random.Random(self.seed).sample(sorted(self.doc_ids), self.n_sample)
        rows = (
            spark.read.parquet(input_path)
            .filter(F.col("doc_id").isin(sample))
            .collect()
        )
        lexicon = Lexicon(frozenset(lexicon_words()))
        spans = [(r["doc_id"], pipeline.text_to_spans(r["text"])) for r in rows]
        for d, s in spans:
            process_document_safe(d, s, lexicon)
        t0 = time.perf_counter()
        for d, s in spans:
            process_document_safe(d, s, lexicon)
        elapsed = time.perf_counter() - t0
        return {"ms_per_doc": 1e3 * elapsed / len(spans), "docs": len(spans)}

    def check(self, spark, out: str) -> CheckResult:
        got = (
            spark.read.parquet(out)
            .select("doc_id", "cluster_id", "keep")
            .toPandas()
        )
        counts = got["doc_id"].value_counts()
        failed = set(self.doc_ids - set(counts.index))
        failed |= set(counts[counts != 1].index)
        once = got[~got["doc_id"].isin(failed)].set_index("doc_id")
        exp = self._expected.loc[once.index]
        wrong = (once["cluster_id"] != exp["cluster_id"]) | (
            once["keep"].astype(bool) != exp["keep"]
        )
        failed |= set(once.index[wrong.to_numpy()])
        ordered = got.sort_values("doc_id").reset_index(drop=True)
        digest = int(pd.util.hash_pandas_object(ordered, index=False).sum())
        return CheckResult(
            failed,
            f"{len(got)}:{digest}",
            {"rows": len(got), "kept": int(got["keep"].sum())},
        )


def make(name: str, seed: int):
    if name == "extract_job":
        return ExtractWorkload(name, seed, n_normal=495, n_giant=5,
                               stream_docs=2_000, n_sample=16)
    if name == "extract_giants":
        return ExtractWorkload(name, seed, n_normal=0, n_giant=16,
                               stream_docs=6_000, n_sample=4)
    if name == "dedup_adversarial":
        return DedupWorkload(name, seed, n_exact=104_000, n_near=2_000,
                             n_unique=4_000, n_sample=16)
    raise ValueError(f"unknown workload {name!r}")


