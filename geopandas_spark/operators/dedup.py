"""Deduplication operators for large-scale training-data pipelines.

Exact + near-duplicate detection over a text corpus, each expressible as a
Spark plan (task brief: dedup is a first-class engine component):

* ``exact_dedup``       — hash-groupBy on normalized text.
* ``minhash_lsh``       — shingle -> minhash signature -> banded LSH
                          bucket join -> exact-jaccard verification.
* ``simhash``           — 64-bit simhash + chunk-banding for hamming<=k.
* ``ngram_jaccard``     — exact n-gram Jaccard on candidate pairs.

All UDFs are Arrow-vectorized; signatures/hashes are computed with numpy
over the whole batch. LSH parameters follow the standard S-curve:
P(candidate) = 1 - (1 - s^r)^b with b bands of r rows (b*r = num_perm).

At 100 TB scale the plan shape is: one projection computes signatures
(no shuffle), the band explode shuffles (band_id, band_hash) pairs (tiny
rows), the bucket self-join uses AQE + optional salting on hot buckets
(empty/boilerplate text is the classic hot key — normalize first).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

_MERSENNE = (1 << 61) - 1


def _perm_params(num_perm: int, seed: int = 1):
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=num_perm, dtype=np.int64)
    b = rng.integers(0, _MERSENNE, size=num_perm, dtype=np.int64)
    return a, b


def _str_hash64(s: str) -> int:
    """Deterministic 64-bit string hash (Python's hash() is process-salted
    and would differ across executors)."""
    import hashlib

    return int.from_bytes(
        hashlib.blake2b(s.encode("utf-8", "replace"), digest_size=8).digest(),
        "little",
    )


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", normalize: bool = True) -> DataFrame:
    """Keep one representative (min id) per identical text; returns the
    deduplicated frame with a dup_count column."""
    from ..conf import widen

    df = widen(df)
    t = F.col(text_col)
    if normalize:
        t = F.lower(F.regexp_replace(t, r"\s+", " "))
    keyed = df.withColumn("__tkey", F.xxhash64(t))
    w = (
        keyed.groupBy("__tkey")
        .agg(F.min(id_col).alias("__keep"), F.count("*").alias("dup_count"))
    )
    return (
        keyed.join(w, on="__tkey", how="inner")
        .filter(F.col(id_col) == F.col("__keep"))
        .drop("__tkey", "__keep")
    )


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       num_perm: int = 64, shingle: int = 5,
                       seed: int = 1, out_col: str = "minhash") -> DataFrame:
    a, b = _perm_params(num_perm, seed)

    @pandas_udf("array<long>")
    def _sig(texts: pd.Series) -> pd.Series:
        # batch-vectorized (round 2): ONE sliding window over the
        # concatenated lowercased bytes of the whole Arrow batch, shingle
        # hashes for every document in one pass, then per-permutation
        # minima via minimum.reduceat over the doc-contiguous segments.
        # Duplicate shingles don't change a min, so no per-doc unique()
        # is needed — signatures are bit-identical to the per-doc path.
        n = len(texts)
        bs = [(t.lower().encode("utf-8", "replace") if t is not None else None)
              for t in texts]
        lens = np.array([len(x) if x is not None else -1 for x in bs],
                        dtype=np.int64)
        out = np.empty(n, dtype=object)
        k = int(shingle)
        long_mask = lens >= k
        if long_mask.any():
            blob = b"".join(x for x in bs if x is not None and len(x) >= k)
            buf = np.frombuffer(blob, dtype=np.uint8)
            dlens = lens[long_mask]
            offs = np.zeros(len(dlens) + 1, dtype=np.int64)
            np.cumsum(dlens, out=offs[1:])
            base = np.uint64(1099511628211)
            powers = base ** np.arange(k, dtype=np.uint64)
            win = np.lib.stride_tricks.sliding_window_view(buf, k)
            h_all = (win.astype(np.uint64) * powers[None, :]).sum(axis=1)
            # valid window starts per doc: offs[i] .. offs[i+1]-k
            nwin = dlens - k + 1
            starts = _expand_starts(offs[:-1], nwin)
            h = (h_all[starts] & np.uint64((1 << 61) - 1)).astype(np.int64)
            seg = np.zeros(len(dlens), dtype=np.int64)
            np.cumsum(nwin[:-1], out=seg[1:])
            sigs = np.empty((len(dlens), num_perm), dtype=np.int64)
            for j in range(num_perm):
                m = (a[j] * h + b[j]) % _MERSENNE
                sigs[:, j] = np.minimum.reduceat(m, seg)
            pos = np.nonzero(long_mask)[0]
            for i, row in zip(pos, sigs):
                out[i] = row.tolist()
        for i in np.nonzero(~long_mask)[0]:
            if lens[i] < 0:
                out[i] = None
                continue
            hv = np.int64(_str_hash64(texts.iloc[i].lower())
                          & 0x7FFFFFFFFFFFFFFF)
            m = (a * hv + b) % _MERSENNE
            out[i] = m.astype(np.int64).tolist()
        return pd.Series(out)

    return df.withColumn(out_col, _sig(F.col(text_col)))


def shingle_sets(df: DataFrame, text_col: str, id_col: str,
                 k: int, out_col: str = "__sh") -> DataFrame:
    """(id, sorted unique k-byte-shingle hashes) — computed ONCE per doc
    with the same batched windowing as minhash_signatures, so the exact
    Jaccard verify never re-shingles text per candidate pair."""

    @pandas_udf("array<long>")
    def _sets(texts: pd.Series) -> pd.Series:
        n = len(texts)
        bs = [(t.lower().encode("utf-8", "replace") if t is not None else None)
              for t in texts]
        lens = np.array([len(x) if x is not None else -1 for x in bs],
                        dtype=np.int64)
        out = np.empty(n, dtype=object)
        long_mask = lens >= k
        if long_mask.any():
            blob = b"".join(x for x in bs if x is not None and len(x) >= k)
            buf = np.frombuffer(blob, dtype=np.uint8)
            dlens = lens[long_mask]
            offs = np.zeros(len(dlens) + 1, dtype=np.int64)
            np.cumsum(dlens, out=offs[1:])
            base = np.uint64(1099511628211)
            powers = base ** np.arange(k, dtype=np.uint64)
            win = np.lib.stride_tricks.sliding_window_view(buf, k)
            h_all = (win.astype(np.uint64) * powers[None, :]).sum(axis=1)
            nwin = dlens - k + 1
            starts = _expand_starts(offs[:-1], nwin)
            h = h_all[starts]
            bnd = np.zeros(len(dlens) + 1, dtype=np.int64)
            np.cumsum(nwin, out=bnd[1:])
            pos = np.nonzero(long_mask)[0]
            h = h.astype(np.int64)  # cast BEFORE unique: lists stay sorted
            for i, (lo, hi) in zip(pos, zip(bnd[:-1], bnd[1:])):
                out[i] = np.unique(h[lo:hi]).tolist()
        for i in np.nonzero(~long_mask)[0]:
            if lens[i] < 0:
                out[i] = None
            else:
                out[i] = [np.int64(np.uint64(
                    _str_hash64(texts.iloc[i].lower())
                    & 0x7FFFFFFFFFFFFFFF))]
        return pd.Series(out)

    return df.select(F.col(id_col), _sets(F.col(text_col)).alias(out_col))


def _expand_starts(offs: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenated ranges offs[i] .. offs[i]+counts[i]."""
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    idx = np.repeat(offs, counts)
    inner = np.arange(total, dtype=np.int64)
    resets = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=resets[1:])
    inner -= np.repeat(resets, counts)
    return idx + inner


def _cap_hot_buckets(exploded: DataFrame, bucket_cols: list[str],
                     id_col: str, max_bucket: int, what: str,
                     return_stats: bool = False):
    """Split exploded bucket rows into (normal, star) candidate pairs.

    Buckets larger than ``max_bucket`` would emit O(size^2) clique pairs —
    the classic hot-key blowup (empty/boilerplate docs all land in one
    bucket). Those buckets instead emit STAR pairs (every member paired
    with the bucket's min id): O(size) rows that still link all members
    transitively for connected-component dedup, at the cost of pairs
    between non-representative members. The downgrade count is logged.

    With ``return_stats`` the (cand, stats) pair is returned; stats rides
    the same single driver collect and carries ``total_rows`` (sum of
    bucket sizes = input rows) and ``est_pairs`` (pre-dedup candidate
    pair estimate: clique counts for normal buckets, star counts for hot
    ones) for caller-side plan decisions.
    """
    import logging

    sizes = exploded.groupBy(*bucket_cols).agg(F.count("*").alias("__bn"))
    hot = sizes.filter(F.col("__bn") > int(max_bucket)).select(*bucket_cols)
    stats = sizes.agg(
        F.sum(F.when(F.col("__bn") > int(max_bucket), 1).otherwise(0)),
        F.sum(F.when(F.col("__bn") > int(max_bucket), F.col("__bn"))
              .otherwise(0)),
        F.sum("__bn"),
        F.sum(F.when(F.col("__bn") > int(max_bucket), F.col("__bn") - 1)
              .otherwise(F.col("__bn") * (F.col("__bn") - 1) / 2)),
    ).collect()[0]
    n_hot, n_rows = int(stats[0] or 0), int(stats[1] or 0)
    bucket_stats = {"total_rows": int(stats[2] or 0),
                    "est_pairs": float(stats[3] or 0.0)}
    if n_hot:
        logging.getLogger(__name__).warning(
            "%s: %d hot buckets (> %d members, %d rows total) downgraded "
            "from clique to star candidate pairs", what, n_hot, max_bucket,
            n_rows)
        hot_b = F.broadcast(hot)
        normal = exploded.join(hot_b, on=bucket_cols, how="left_anti")
        hot_rows = exploded.join(hot_b, on=bucket_cols, how="left_semi")
        reps = hot_rows.groupBy(*bucket_cols).agg(F.min(id_col).alias("__rep"))
        star = (
            hot_rows.join(reps, on=bucket_cols)
            .filter(F.col(id_col) != F.col("__rep"))
            .select(F.col("__rep").alias("id_a"), F.col(id_col).alias("id_b"))
        )
    else:
        normal, star = exploded, None
    a = normal.select(F.col(id_col).alias("id_a"), *bucket_cols)
    b = normal.select(F.col(id_col).alias("id_b"), *bucket_cols)
    cand = (
        a.join(b, on=bucket_cols)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    if star is not None:
        cand = cand.unionByName(star)
    cand = cand.dropDuplicates(["id_a", "id_b"])
    return (cand, bucket_stats) if return_stats else cand


def minhash_lsh(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                num_perm: int = 64, bands: int = 16, shingle: int = 5,
                threshold: float = 0.7, seed: int = 1,
                max_bucket: int = 1000,
                verify_scope: str = "auto") -> DataFrame:
    """-> candidate near-duplicate pairs (id_a, id_b, jaccard) verified by
    exact shingle Jaccard >= threshold.

    Scale shape (round-2 fix): document text NEVER rides the band explode
    or the bucket self-join — banding shuffles (id, band_hash) rows only
    (~16 bytes), candidate pairs are generated and deduped on ids, and
    text is joined back ONLY for the candidate pairs' exact-Jaccard
    verification. Hot band buckets are star-mitigated (_cap_hot_buckets).
    """
    if num_perm % bands:
        raise ValueError("num_perm must divide into bands")
    from ..conf import widen

    df = widen(df)
    r = num_perm // bands
    sigs = minhash_signatures(df, text_col, num_perm, shingle, seed).select(
        F.col(id_col).alias("__id"), "minhash"
    ).filter(F.col("minhash").isNotNull())
    banded = sigs.select(
        "__id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.slice(F.col("minhash"), i * r + 1, r),
            )
        ).alias("band_id", "band"),
    ).select(
        "__id",
        F.xxhash64(F.col("band_id"), F.to_json("band")).alias("band_hash"))
    # several downstream branches read the banded rows: pin one
    # materialization (GC-freed localCheckpoint, not persist — no
    # CacheManager leak)
    banded = banded.localCheckpoint(eager=False)
    cand, bstats = _cap_hot_buckets(banded, ["band_hash"], "__id",
                                    max_bucket, "minhash_lsh",
                                    return_stats=True)

    @pandas_udf("double")
    def _jac(sa: pd.Series, sb: pd.Series) -> pd.Series:
        # per-pair sorted-array intersection over PREcomputed shingle
        # sets (round-2: the verify used to re-shingle text per pair —
        # O(pairs x textlen) hashing; now it is O(pairs x set size))
        out = np.empty(len(sa))
        for i, (x, y) in enumerate(zip(sa, sb)):
            x = np.asarray(x, dtype=np.int64)
            y = np.asarray(y, dtype=np.int64)
            if len(x) == 0 and len(y) == 0:
                out[i] = 1.0
                continue
            if len(x) > len(y):
                x, y = y, x
            idx = np.searchsorted(y, x)
            idx[idx == len(y)] = 0
            inter = int((y[idx] == x).sum())
            u = len(x) + len(y) - inter
            out[i] = inter / u if u else 0.0
        return pd.Series(out)

    # Round-4 scale fix: shingle ONLY candidate-pair members
    # (verify_scope='candidates', the default). The verify used to
    # materialize shingle_sets for the WHOLE corpus and shuffle that
    # (~10x doc bytes) through both joins; candidates are sparse at
    # corpus scale, so semi-joining the doc table down to pair members
    # first keeps the shingle stage and both verify joins proportional
    # to the candidate set, not the corpus. cand is pinned (GC-freed
    # localCheckpoint) because three branches read it.
    # verify_scope='corpus' keeps the round-3 plan (shingle everything,
    # skip the distinct + semi-join) — cheaper only when candidates
    # cover most of the corpus OR the corpus is small in absolute terms.
    # 'auto' (default) decides from the bucket stats that already rode
    # the hot-bucket collect: the semi-join plumbing (distinct + two
    # extra stages + checkpoint) has a ~1s fixed cost that the saved
    # shingling doesn't repay on small corpora (measured A/B at sf0.1:
    # corpus 5.6s vs candidates 6.8s, tools/ab_dedup.py), while at
    # corpus scale the saved shingle shuffle dominates. Members are
    # bounded by 2*est_pairs (pre-dedup, so an overcount — errs toward
    # the scale-safe semi-join).
    if verify_scope == "auto":
        n_docs_est = bstats["total_rows"] / max(bands, 1)
        members_bound = 2.0 * bstats["est_pairs"]
        small_corpus = n_docs_est <= 500_000
        dense_cand = members_bound >= 0.5 * n_docs_est
        verify_scope = "corpus" if (small_corpus or dense_cand) \
            else "candidates"
    if verify_scope == "candidates":
        cand = cand.localCheckpoint(eager=False)
        ids = (cand.select(F.col("id_a").alias(id_col))
               .unionByName(cand.select(F.col("id_b").alias(id_col)))
               .distinct())
        members = df.join(ids, on=id_col, how="left_semi")
    elif verify_scope == "corpus":
        members = df
    else:
        raise ValueError(
            f"verify_scope must be 'candidates' or 'corpus', got "
            f"{verify_scope!r}")
    sh = shingle_sets(members, text_col, id_col, shingle)
    cand = (
        cand.join(sh.select(F.col(id_col).alias("id_a"),
                            F.col("__sh").alias("sa")), on="id_a")
        .join(sh.select(F.col(id_col).alias("id_b"),
                        F.col("__sh").alias("sb")), on="id_b")
    )
    return (
        cand.withColumn("jaccard", _jac("sa", "sb"))
        .filter(F.col("jaccard") >= float(threshold))
        .select("id_a", "id_b", "jaccard")
    )


def simhash_signatures(df: DataFrame, text_col: str = "text",
                       out_col: str = "simhash",
                       hash_fn: str = "blake2b") -> DataFrame:
    """64-bit simhash over whitespace tokens (weighted bit voting).

    ``hash_fn``: 'blake2b' (default, fastest stdlib 64-bit digest) or
    'md5' — first 8 digest bytes big-endian, chosen because a SQL engine
    can reproduce it (``CAST('0x' || substr(md5(tok),1,16) AS UBIGINT)``),
    giving the near-dup pipeline a closed-form external oracle.
    """
    if hash_fn == "blake2b":
        tok_hash = _str_hash64
    elif hash_fn == "md5":
        import hashlib

        def tok_hash(s: str) -> int:
            return int.from_bytes(
                hashlib.md5(s.encode("utf-8", "replace")).digest()[:8],
                "big")
    else:
        raise ValueError(f"hash_fn must be blake2b|md5, got {hash_fn!r}")

    @pandas_udf("long")
    def _sim(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            if not t:
                out[i] = 0
                continue
            toks = t.lower().split()
            if not toks:
                out[i] = 0
                continue
            hs = np.array([tok_hash(tok) for tok in toks], dtype=np.uint64)
            bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
                    & np.uint64(1)).astype(np.int64)
            votes = (2 * bits - 1).sum(axis=0)
            sig = np.uint64(0)
            for bpos in np.nonzero(votes > 0)[0]:
                sig |= np.uint64(1) << np.uint64(bpos)
            out[i] = np.int64(sig.astype(np.int64))
        return pd.Series(out)

    return df.withColumn(out_col, _sim(F.col(text_col)))


def simhash_near_dups(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", max_hamming: int = 3,
                      max_bucket: int = 1000,
                      hash_fn: str = "blake2b") -> DataFrame:
    """Banding on 4x16-bit chunks: pairs within hamming<=3 share >=1 chunk
    (pigeonhole). -> (id_a, id_b, hamming).

    Hot chunk buckets (chunk value 0 collects every empty/boilerplate doc)
    are star-mitigated via _cap_hot_buckets instead of emitting O(n^2)
    clique pairs; signatures are joined back per candidate pair, so the
    bucket self-join shuffles (id, chunk) rows only.
    """
    from ..conf import widen

    df = widen(df)
    sig = simhash_signatures(df, text_col, hash_fn=hash_fn).select(
        F.col(id_col).alias("__id"), F.col("simhash"))
    sig = sig.localCheckpoint(eager=False)
    chunks = sig.select(
        "__id",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("chunk_id"),
                     F.shiftright("simhash", 16 * i).bitwiseAND(F.lit(0xFFFF))
                     .alias("chunk"))
            for i in range(4)
        ])).alias("c"),
    ).select("__id", "c.chunk_id", "c.chunk")
    cand = _cap_hot_buckets(chunks, ["chunk_id", "chunk"], "__id", max_bucket,
                            "simhash_near_dups")
    cand = (
        cand.join(sig.select(F.col("__id").alias("id_a"),
                             F.col("simhash").alias("sa")), on="id_a")
        .join(sig.select(F.col("__id").alias("id_b"),
                         F.col("simhash").alias("sb")), on="id_b")
    )
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _word_ngrams(text_col: str, n: int):
    """Distinct word-n-gram array, pure Catalyst: lowercase, whitespace
    tokenize, sliding join of n tokens. Documents shorter than n tokens
    contribute their whole text as one gram (so they still participate
    in overlap checks). Shared by ngram_jaccard and decontaminate; the
    SQL oracles mirror this expression exactly."""
    # regex-strip the ends (F.trim removes only ASCII spaces: a trailing
    # newline/tab would otherwise leave a phantom '' token in every gram)
    toks = F.split(
        F.regexp_replace(F.lower(F.col(text_col)), r"^\s+|\s+$", ""),
        r"\s+")
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ))).otherwise(F.array(F.concat_ws(" ", toks)))


def decontaminate(df: DataFrame, benchmark: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  bench_text_col: str | None = None, n: int = 8,
                  min_overlap: int = 1) -> DataFrame:
    """Benchmark-contamination check for training corpora: count, per
    document, how many of its distinct word-``n``-grams appear anywhere
    in the ``benchmark`` frame's text, and flag documents at
    ``>= min_overlap`` hits (the standard eval-decontamination stage —
    drop or audit flagged docs before training).

    Plan shape at corpus scale: the benchmark's distinct n-gram set is
    small by construction (eval sets are orders of magnitude smaller
    than the corpus), so it BROADCASTS; the corpus side streams through
    one explode + broadcast-hash semi-aggregation — no corpus shuffle at
    all. Returns ``df`` plus ``n_overlap`` (long) and ``contaminated``
    (boolean); every input row survives (left join, zero-filled).
    """
    bcol = bench_text_col or text_col
    bng = (benchmark.select(F.explode(_word_ngrams(bcol, n)).alias("__g"))
           .distinct())
    dng = df.select(F.col(id_col).alias("__did"),
                    F.explode(_word_ngrams(text_col, n)).alias("__g"))
    hits = (dng.join(F.broadcast(bng), on="__g")
            .groupBy("__did").agg(F.count("*").alias("__hits")))
    out = df.join(hits, df[id_col] == hits["__did"], "left")
    return (out.withColumn("n_overlap",
                           F.coalesce(F.col("__hits"), F.lit(0)))
            .withColumn("contaminated",
                        F.col("n_overlap") >= int(min_overlap))
            .drop("__did", "__hits"))


def ngram_jaccard(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", n: int = 3,
                  threshold: float = 0.5,
                  max_df: int | None = 10_000) -> DataFrame:
    """Exact word-n-gram Jaccard similarity pairs (id_a, id_b, jaccard).

    Pure Catalyst (zero Python UDFs — every stage is JVM codegen):
    tokenize + n-gram via ``transform``/``slice``, explode DISTINCT
    n-grams, self-join on the n-gram, and compute
    ``|A ∩ B| / (|A| + |B| - |A ∩ B|)`` from group counts. N-grams whose
    document frequency exceeds ``max_df`` are dropped before the join
    (the hot-key guard — stopword-only n-grams otherwise join the whole
    corpus with itself); the drop is part of the operator contract so the
    oracle can mirror it in SQL.
    """
    ng = df.select(F.col(id_col).alias("__id"),
                   F.explode(_word_ngrams(text_col, n)).alias("__g"))
    ng = ng.localCheckpoint(eager=False)
    ngj = ng
    if max_df is not None:
        dfreq = ng.groupBy("__g").agg(F.count("*").alias("__df"))
        keep = dfreq.filter(F.col("__df") <= int(max_df)).select("__g")
        # A gram occurring in a single document cannot contribute to any
        # |A ∩ B|, so the self-join sides additionally drop df==1 grams —
        # ONE semi-join of the checkpointed gram table against the
        # [2, max_df] set (df<=max_df is subsumed, no stacked joins).
        # Free here because ``dfreq`` is already paid for by the max_df
        # guard; measured a NET LOSS when max_df is None (the df
        # aggregation is itself a full gram shuffle the plan otherwise
        # never does — A/B at 200k sparse docs: 3.1 s -> 5.0 s), so the
        # prune stays conditional. ``counts`` below keeps the full
        # (max_df-filtered) per-doc totals, so jaccard values are
        # unchanged.
        ngj = ng.join(
            dfreq.filter((F.col("__df") >= 2)
                         & (F.col("__df") <= int(max_df))).select("__g"),
            on="__g", how="left_semi")
        ng = ng.join(keep, on="__g", how="left_semi")
    counts = ng.groupBy("__id").agg(F.count("*").alias("__n"))
    inter = (
        ngj.alias("a").join(ngj.alias("b"), on="__g")
        .filter(F.col("a.__id") < F.col("b.__id"))
        .groupBy(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .agg(F.count("*").alias("__i"))
    )
    return (
        inter.join(counts.select(F.col("__id").alias("id_a"),
                                 F.col("__n").alias("__na")), on="id_a")
        .join(counts.select(F.col("__id").alias("id_b"),
                            F.col("__n").alias("__nb")), on="id_b")
        .withColumn("jaccard",
                    F.col("__i") / (F.col("__na") + F.col("__nb") - F.col("__i")))
        .filter(F.col("jaccard") >= float(threshold))
        .select("id_a", "id_b", "jaccard")
    )


def hash_split(df: DataFrame, key_col: str = "doc_id",
               fractions: dict | None = None, salt: str = "",
               buckets: int = 1_000_000,
               out_col: str = "split") -> DataFrame:
    """Deterministic dataset splitting for training pipelines: assign
    every row to a named split (train/val/test/...) by hashing its key —
    reproducible across runs, machines and engines (no RNG, no
    ordering dependence), stable under repartitioning, and new rows
    never move existing rows between splits. The standard way to carve
    holdout sets out of a 100 TB corpus.

    ``fractions`` maps split name -> fraction (must sum to 1 within
    1e-9; dict order defines the bucket ranges). The bucket is the
    first 8 hex chars of md5(key || salt) taken as an integer modulo
    ``buckets`` — md5 rather than xxhash64 so external SQL engines
    reproduce the assignment bit-for-bit (same trick as the simhash
    oracle). Pure Catalyst projection: map-only, no shuffle.
    """
    if fractions is None:
        fractions = {"train": 0.9, "val": 0.05, "test": 0.05}
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    if not fractions:
        raise ValueError("fractions must not be empty")
    bucket = F.pmod(
        F.conv(F.substring(
            F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt))),
            1, 8), 16, 10).cast("long"),
        F.lit(int(buckets)))
    names = list(fractions)
    cum = 0.0
    expr = None
    for name in names[:-1]:
        cum += fractions[name]
        thresh = int(round(cum * buckets))
        cond = bucket < F.lit(thresh)
        expr = F.when(cond, F.lit(name)) if expr is None \
            else expr.when(cond, F.lit(name))
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn(out_col, expr)
