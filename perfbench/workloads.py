"""The benchmark workloads: inputs, one full pass, output checks.

Each workload has the same life cycle, driven by ``run.py``:

- ``setup(dir)`` generates the seeded inputs, writes them to parquet and
  builds any persisted artifacts;
- ``run_pass(dir, tracer)`` runs one full pass from input to a written or
  forced result. With an enabled tracer the pass calls each layer's public
  function inside its own span and forces that layer's output there, so
  the next span times only its own work;
- ``digest(dir)`` is an order-independent digest of a pass's outputs;
- ``checks(dir)`` checks a pass's outputs, returning
  ``[(check name, passed, detail)]``.

The benchmark calls only ``pyppi_spark``'s public functions; everything
else here is input generation and independent checking.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from pyppi_spark import oracle
from pyppi_spark.checkpoint import lineage_id, run_with_checkpoints
from pyppi_spark.operators import asof, dedup, dsir, quality_lm, similarity
from pyppi_spark.plans import features, pit
from pyppi_spark.schema import PROBES, TRANSCRIPTS

from . import inputs

JACCARD_T = 0.8
SHINGLE_N = 3
BANDS, ROWS_PER_BAND = 32, 2
DSIR_BUCKETS = 256
# the repo's semantic-dedup query (q_semdedup_pairs) on sf0.1-shaped vectors
SEM_THRESHOLD = 0.45
N_CENTROIDS = 8
FLOAT_RTOL = 1e-9


class Forcer:
    """Persists span outputs so the next span reads them instead of
    recomputing them; ``release`` frees them at the end of a pass."""

    def __init__(self):
        self.held: list[DataFrame] = []

    def __call__(self, df: DataFrame) -> tuple[DataFrame, int]:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self.held.append(df)
        return df, df.count()

    def release(self) -> None:
        for df in self.held:
            df.unpersist()
        self.held.clear()


def read_pdf(path: str) -> pd.DataFrame:
    """A parquet table written by Spark (a directory of part files, maybe
    partitioned into subdirectories) or by pandas, read without Spark. A
    partition column is not in the part files, so it is not read."""
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    if not files:
        return pq.read_table(path).to_pandas()
    return pa.concat_tables([pq.read_table(f) for f in files]).to_pandas()


def digest_pdf(pdf: pd.DataFrame) -> str:
    """Order-independent digest: row count and the sum, mod 2^64, of a
    64-bit hash of every row. Doubles are rounded to 6 decimals first (and
    -0.0 made 0.0), so a last-bit difference from a different summation
    order does not flip it."""
    cols = []
    for c in sorted(pdf.columns):
        v = pdf[c]
        if pd.api.types.is_float_dtype(v):
            v = v.round(6) + 0.0
        cols.append(v.astype(str).to_numpy())
    total = 0
    for row in zip(*cols):
        h = hashlib.blake2b("\x1f".join(row).encode(), digest_size=8).digest()
        total += int.from_bytes(h, "little")
    return f"{len(pdf)}:{total % 2**64}"


def digest_table(path: str) -> str:
    """``digest_pdf`` of a written table, without its ``_bucket`` column."""
    return digest_pdf(read_pdf(path).drop(columns="_bucket", errors="ignore"))


def write_pdf(pdf: pd.DataFrame, path: str, schema=None, files: int = 1) -> None:
    """``pdf`` as a directory of ``files`` parquet part files of contiguous
    rows, written without Spark; ``schema`` is a Spark schema to write it
    with (otherwise pandas' types)."""
    os.makedirs(path, exist_ok=True)
    arrow = to_arrow_schema(schema) if schema is not None else None
    for i, part in enumerate(np.array_split(np.arange(len(pdf)), files)):
        t = pa.Table.from_pandas(pdf.iloc[part], schema=arrow, preserve_index=False)
        pq.write_table(t, os.path.join(path, f"part-{i:05d}.parquet"))


def _norm(text: str) -> str:
    """The content key's normalization, written independently of Spark."""
    return re.sub(r"\s+", " ", text.strip().lower())


def _grams(text: str) -> set[tuple[str, ...]]:
    w = _norm(text).split(" ")
    if len(w) < SHINGLE_N:
        return {tuple(w)}
    return {tuple(w[i : i + SHINGLE_N]) for i in range(len(w) - SHINGLE_N + 1)}


def _jaccard(x: str, y: str) -> float:
    a, b = _grams(x), _grams(y)
    return len(a & b) / len(a | b)


def compare_frames(got: pd.DataFrame, want: pd.DataFrame, key: list[str]) -> str | None:
    """None when ``got`` equals ``want`` row for row (floats to a relative
    1e-9, NULL equal to NULL); otherwise the first difference."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    g = got.sort_values(key).reset_index(drop=True)
    w = want.sort_values(key).reset_index(drop=True)
    for c in want.columns:
        if c not in g.columns:
            return f"missing column {c}"
        a, b = g[c], w[c]
        both_null = a.isna().to_numpy() & b.isna().to_numpy()
        if pd.api.types.is_float_dtype(b) or pd.api.types.is_float_dtype(a):
            av = pd.to_numeric(a, errors="coerce").to_numpy(dtype=float)
            bv = pd.to_numeric(b, errors="coerce").to_numpy(dtype=float)
            ok = both_null | np.isclose(av, bv, rtol=FLOAT_RTOL, atol=FLOAT_RTOL)
        else:
            ok = both_null | (a.astype(object).to_numpy() == b.astype(object).to_numpy())
        if not ok.all():
            i = int(np.argmin(ok))
            return f"{c} at {dict(w.loc[i, key])}: got {a.iloc[i]!r}, expected {b.iloc[i]!r}"
    return None


class Workload:
    name = ""
    input_unit = ""

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed
        self.input_rows = 0
        self.increment_s: list[float] = []  # per-increment walls of the last pass

    def read(self, path: str) -> DataFrame:
        return self.spark.read.parquet(path)

    def write(self, df: DataFrame, path: str) -> None:
        df.write.mode("overwrite").parquet(path)


class TranscriptFeatures(Workload):
    """Conversation features: windows, as-of joins and aggregation."""

    name = "transcript_features"
    input_unit = "turns"
    N_CONVS = inputs.N_CONVS

    def setup(self, d: str) -> None:
        ids, self.giant = inputs.select_conversations(self.seed, self.N_CONVS)
        self.pdf = inputs.transcripts_pdf(self.seed, ids)
        self.probe_ids = inputs.probe_conversations(self.seed, ids, self.giant)
        probes = inputs.probes_pdf(self.pdf, self.seed, self.probe_ids)
        self.transcripts = f"{d}/transcripts"
        self.probes = f"{d}/probes"
        # written without Spark, so the cold pass runs the session's first job
        par = self.spark.sparkContext.defaultParallelism
        write_pdf(self.pdf, self.transcripts, TRANSCRIPTS, files=par)
        write_pdf(probes, self.probes, PROBES)
        self.input_rows = len(self.pdf)
        self.sizes = {
            "turns": self.input_rows,
            "conversations": len(ids),
            "largest_conversation": int(self.pdf.groupby("conv_id").size().max()),
            "probes": len(probes),
        }
        self.lineage = lineage_id(self.transcripts, "perfbench", {"seed": self.seed})

    def run_pass(self, d: str, tracer) -> None:
        t = self.read(self.transcripts)
        probes = self.read(self.probes)
        ckpt = dict(
            output_path=f"{d}/conv_features", ledger_path=f"{d}/ledger",
            run_id="perfbench", lineage=self.lineage,
        )
        if not tracer.enabled:
            run_with_checkpoints(self.spark, t, transform=features.conv_features, **ckpt)
            pit.pit_features(probes, t).write.format("noop").mode("overwrite").save()
            return
        # traced: the same plans split at their layer boundaries;
        # conv_features = conv_features_from_turns(turn_features(t)), and
        # pit_features = asof_join(probes, cumulative_state(t), ...) with
        # pit_features' own arguments
        force = Forcer()
        try:
            with tracer.span("features.turn_features") as s:
                tf, s["rows_out"] = force(features.turn_features(t))
            with tracer.span("features.conv_features_from_turns") as s:
                cf, s["rows_out"] = force(features.conv_features_from_turns(tf))
            with tracer.span("checkpoint.run_with_checkpoints") as ck:
                run_with_checkpoints(self.spark, cf, transform=lambda df: df, **ckpt)
            ck["rows_out"] = self.read(ckpt["output_path"]).count()
            with tracer.span("pit.cumulative_state") as s:
                state, s["rows_out"] = force(pit.cumulative_state(t))
            with tracer.span("asof.asof_join") as s:
                _, s["rows_out"] = force(
                    asof.asof_join(
                        probes, state, probe_ts="probe_ts", build_ts="ts", by=("conv_id",),
                        payload=pit.PIT_STATE_COLS, inclusive=True, tiebreak="turn_idx",
                        prefix="",
                    )
                )
        finally:
            force.release()

    def digest(self, d: str) -> str:
        return digest_table(f"{d}/conv_features")

    def check_slice(self) -> list[str]:
        """A seeded slice of the probed conversations, always with the giant."""
        rng = np.random.default_rng([self.seed, 41])
        rest = [c for c in self.probe_ids if c != self.giant]
        return sorted([self.giant] + rng.choice(rest, size=min(15, len(rest)), replace=False).tolist())

    def checks(self, d: str) -> list[tuple[str, bool, str]]:
        sl = self.check_slice()
        t_pdf = self.pdf[self.pdf["conv_id"].isin(sl)]
        in_slice = F.col("conv_id").isin(sl)
        got = self.read(f"{d}/conv_features").drop("_bucket").where(in_slice).toPandas()
        bad_cf = compare_frames(got, oracle.oracle_conv_features(t_pdf), ["conv_id"])
        probes = self.read(self.probes).where(in_slice)
        got_pit = pit.pit_features(probes, self.read(self.transcripts)).where(in_slice).toPandas()
        want_pit = oracle.oracle_pit_features(probes.toPandas(), t_pdf)
        bad_pit = compare_frames(got_pit, want_pit, ["probe_id"])
        return [
            ("conv_features_vs_oracle", bad_cf is None, bad_cf or f"{len(sl)} conversations"),
            ("pit_features_vs_oracle", bad_pit is None, bad_pit or f"{len(want_pit)} probes"),
        ]


class CorpusFull(Workload):
    """The corpus pipeline: a full pass over the frozen majority of one
    seeded corpus, then the rest of it as one increment deduplicated
    against the artifacts that pass persisted.

    Full pass: exact dedup, MinHash -> LSH -> Jaccard verify ->
    representatives, quality tiers, DSIR + Gumbel top-k, semantic pairs over
    the embeddings. It then persists the kept corpus's content keys and
    MinHash band rows, as ``jobs/dedup_corpus.py --mode full`` does, and an
    increment runs ``exact_dedup_incremental`` + ``near_dedup_incremental``
    against them (``--mode incremental``) and writes its survivors.
    """

    name = "corpus_full"
    input_unit = "docs"
    N_BASE = 1_200
    N_INCREMENT = 100
    N_VECS = 1_000

    def setup(self, d: str) -> None:
        self.docs = f"{d}/documents"
        self.increment = f"{d}/increment"
        self.embeddings = f"{d}/embeddings.parquet"
        # one corpus: the frozen majority, then the increment
        corpus = inputs.documents_pdf(self.seed, self.N_BASE + self.N_INCREMENT)
        base, inc = corpus.iloc[: self.N_BASE], corpus.iloc[self.N_BASE :]
        par = self.spark.sparkContext.defaultParallelism
        write_pdf(base, self.docs, files=par)
        write_pdf(inc, self.increment)
        # one parquet file: the centroid trainer reads it without Spark
        inputs.embeddings_pdf(self.seed, self.N_VECS).to_parquet(self.embeddings, index=False)
        # the quantizer is an artifact: a pure function of the parquet
        self.centroids = similarity.train_centroids_from_file(
            self.embeddings, n_centroids=N_CENTROIDS, seed=self.seed
        )
        self.topk = self.N_BASE // 10
        self.input_rows = self.N_BASE + self.N_INCREMENT
        self.sizes = {
            "docs": self.input_rows,
            "base_docs": self.N_BASE,
            "increment_docs": self.N_INCREMENT,
            "increments": 1,
            "embeddings": self.N_VECS,
        }

    def run_pass(self, d: str, tracer) -> None:
        force = Forcer()
        try:
            self._full(d, tracer, force)
            t0 = time.perf_counter()
            self._increment(d, tracer, force)
            self.increment_s = [time.perf_counter() - t0]
        finally:
            force.release()

    def _full(self, d: str, tracer, force: Forcer) -> None:
        on = tracer.enabled
        docs = self.read(self.docs)
        with tracer.span("dedup.exact_dedup") as s:
            uniq = dedup.exact_dedup(docs)
            if on:
                uniq, s["rows_out"] = force(uniq)
        self.write(uniq, f"{d}/exact_stage")
        uniq = self.read(f"{d}/exact_stage")
        with tracer.span("dedup.minhash_signatures") as s:
            sigs = dedup.minhash_signatures(uniq, shingle_n=SHINGLE_N)
            if on:
                sigs, s["rows_out"] = force(sigs)
        with tracer.span("dedup.minhash_lsh_candidates") as s:
            cands = dedup.minhash_lsh_candidates(sigs, bands=BANDS, rows_per_band=ROWS_PER_BAND)
            if on:
                cands, s["rows_out"] = force(cands)
            else:
                cands = cands.localCheckpoint()
        with tracer.span("dedup.ngram_jaccard_pairs") as s:
            pairs = dedup.ngram_jaccard_pairs(uniq, cands, threshold=JACCARD_T, shingle_n=SHINGLE_N)
            if on:
                pairs, s["rows_out"] = force(pairs)
        self.write(pairs, f"{d}/near_pairs")
        pairs = self.read(f"{d}/near_pairs")
        with tracer.span("dedup.near_dedup_representatives") as s:
            kept = dedup.near_dedup_representatives(uniq, pairs.select("a", "b"))
            if on:
                kept, s["rows_out"] = force(kept)
        self.write(kept, f"{d}/kept")
        kept = self.read(f"{d}/kept")

        with tracer.span("quality_lm.unigram_surprisal") as s:
            scored = quality_lm.unigram_surprisal(kept)
            if on:
                scored, s["rows_out"] = force(scored)
        scored = scored.join(kept.select("doc_id", "source"), "doc_id")
        with tracer.span("quality_lm.rank_buckets") as s:
            tiers = quality_lm.rank_buckets(scored, "source", "mean_bits")
            if on:
                tiers, s["rows_out"] = force(tiers)
        self.write(tiers, f"{d}/tiers")

        with tracer.span("dsir.dsir_scores") as s:
            scores = dsir.dsir_scores(kept, kept.where(F.col("lang") == "en"), n_buckets=DSIR_BUCKETS)
            if on:
                scores, s["rows_out"] = force(scores)
        with tracer.span("dsir.gumbel_topk") as s:
            sel = dsir.gumbel_topk(scores, k=self.topk, seed=self.seed)
            if on:
                sel, s["rows_out"] = force(sel)
        self.write(sel, f"{d}/selected")

        with tracer.span("similarity.semantic_dedup_pairs") as s:
            sem = similarity.semantic_dedup_pairs(
                self.read(self.embeddings), self.centroids,
                threshold=SEM_THRESHOLD, dim=inputs.EMBED_DIM,
            )
            if on:
                sem, s["rows_out"] = force(sem)
        self.write(sem, f"{d}/semantic_pairs")

        # the artifacts the next (incremental) run reads instead of the
        # kept corpus's text
        with tracer.span("dedup.content_keys"):
            self.write(dedup.content_keys(kept), f"{d}/keys")
        with tracer.span("dedup.minhash_bands"):
            self.write(
                dedup.minhash_bands(kept, shingle_n=SHINGLE_N, bands=BANDS, rows_per_band=ROWS_PER_BAND),
                f"{d}/bands",
            )

    def _increment(self, d: str, tracer, force: Forcer) -> None:
        on = tracer.enabled
        new = self.read(self.increment)
        with tracer.span("dedup.exact_dedup_incremental") as s:
            step1 = dedup.exact_dedup_incremental(new, self.read(f"{d}/keys"))
            if on:
                step1, s["rows_out"] = force(step1)
        with tracer.span("dedup.near_dedup_incremental") as s:
            survivors = dedup.near_dedup_incremental(
                step1, self.read(f"{d}/kept"), shingle_n=SHINGLE_N, bands=BANDS,
                rows_per_band=ROWS_PER_BAND, threshold=JACCARD_T,
                old_bands=self.read(f"{d}/bands"),
            )
            if on:
                survivors, s["rows_out"] = force(survivors)
        self.write(survivors, f"{d}/increment_survivors")

    OUTPUTS = ("near_pairs", "tiers", "selected", "semantic_pairs", "increment_survivors")

    def digest(self, d: str) -> str:
        return ";".join(digest_table(f"{d}/{t}") for t in self.OUTPUTS)

    def checks(self, d: str) -> list[tuple[str, bool, str]]:
        return full_checks(self, d) + increment_checks(self, d)


def full_checks(w: CorpusFull, d: str) -> list[tuple[str, bool, str]]:
    """Invariants of the full pass's outputs, checked with plain Python."""
    docs = read_pdf(w.docs).set_index("doc_id")["text"]
    kept = read_pdf(f"{d}/kept")["doc_id"]
    pairs = read_pdf(f"{d}/near_pairs")
    tiers = read_pdf(f"{d}/tiers")
    sel = read_pdf(f"{d}/selected")["doc_id"]
    sem = read_pdf(f"{d}/semantic_pairs")
    rng = np.random.default_rng([w.seed, 51])
    out = []

    keys = docs.loc[kept].map(_norm)
    dup = int(keys.duplicated().sum())
    out.append(("survivors_unique_content_key", dup == 0, f"{dup} shared keys among {len(kept)}"))

    kept_set = set(kept)
    both = int(sum(1 for a, b in zip(pairs["a"], pairs["b"]) if a in kept_set and b in kept_set))
    out.append(("no_verified_pair_survives", both == 0, f"{both} of {len(pairs)} pairs"))

    sample = pairs.iloc[rng.permutation(len(pairs))[:50]]
    bad = [
        (a, b) for a, b, j in zip(sample["a"], sample["b"], sample["jaccard"])
        if not (j >= JACCARD_T and abs(_jaccard(docs[a], docs[b]) - j) < 1e-12)
    ]
    out.append(("verified_pairs_jaccard", len(pairs) > 0 and not bad,
                f"{len(bad)} bad of {len(sample)} sampled, {len(pairs)} pairs"))

    counts = tiers.groupby(["source", "bucket"]).size().unstack(fill_value=0)
    spread = int((counts.max(axis=1) - counts.min(axis=1)).max())
    tier_ok = spread <= 1 and sorted(tiers["doc_id"]) == sorted(kept)
    out.append(("tiers_balanced", tier_ok, f"max per-source bucket spread {spread}"))

    sel_ok = len(sel) == min(w.topk, len(kept)) and sel.is_unique and set(sel) <= kept_set
    out.append(("dsir_topk", sel_ok, f"{len(sel)} selected"))

    vecs = np.vstack(read_pdf(w.embeddings).sort_values("vec_id")["embedding"].to_numpy())
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    ss = sem.iloc[rng.permutation(len(sem))[:50]]
    cos = np.einsum("ij,ij->i", unit[ss["a"].to_numpy()], unit[ss["b"].to_numpy()])
    sem_ok = (
        len(sem) > 0 and bool((sem["a"] < sem["b"]).all())
        and bool((ss["cos_sim"] >= SEM_THRESHOLD).all())
        and bool(np.allclose(cos, ss["cos_sim"], atol=1e-5))
    )
    out.append(("semantic_pairs_cosine", sem_ok, f"{len(sem)} pairs"))
    return out


def increment_checks(w: CorpusFull, d: str) -> list[tuple[str, bool, str]]:
    """The increment's survivors: drawn from the increment, one per content
    key, none sharing a key with or Jaccard-close to the kept corpus."""
    kept = read_pdf(f"{d}/kept")
    surv = read_pdf(f"{d}/increment_survivors")
    inc_ids = set(read_pdf(w.increment)["doc_id"])
    kept_keys = set(kept["text"].map(_norm))
    skeys = surv["text"].map(_norm)
    out = [
        ("increment_survivors_from_increment", len(surv) > 0 and set(surv["doc_id"]) <= inc_ids,
         f"{len(surv)} survivors"),
        ("increment_survivors_unique_content_key", not skeys.duplicated().any(),
         f"{int(skeys.duplicated().sum())} shared keys"),
        ("no_increment_survivor_key_in_frozen", not skeys.isin(kept_keys).any(),
         f"{int(skeys.isin(kept_keys).sum())} survivors share a frozen key"),
    ]
    # Jaccard >= t needs gram-set sizes within a ratio t of each other, so
    # each survivor is compared only with kept documents of such sizes
    kgrams = sorted((_grams(t) for t in kept["text"]), key=len)
    ksize = np.array([len(g) for g in kgrams])
    worst = 0.0
    for g in map(_grams, surv["text"]):
        lo, hi = np.searchsorted(ksize, [JACCARD_T * len(g) - 1e-9, len(g) / JACCARD_T + 1e-9])
        worst = max([worst] + [len(g & f) / len(g | f) for f in kgrams[lo:hi]])
    out.append(("increment_survivors_not_near_frozen", worst < JACCARD_T,
                f"max Jaccard to a size-compatible frozen document {worst:.3f} "
                f"over {len(surv)} survivors"))
    return out


WORKLOADS = {w.name: w for w in (TranscriptFeatures, CorpusFull)}
