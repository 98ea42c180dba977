"""Deduplication operators for 100 TB-scale corpora.

- exact_dedup: hash-groupBy — one shuffle on the content hash, map-side
  combinable, no driver collect.
- minhash: word-shingle MinHash signatures + banded LSH bucket join.  Hash
  chains are built from xxhash64 (JVM) with (a*h + b) mod p universal
  rehashing evaluated as array expressions — no Python in the hot path.
  Candidate pairs verified with exact shingle-set Jaccard.
- simhash: 64-bit token-hash bit-majority fingerprint + exact Hamming
  verification over banded buckets.
- ngram_jaccard_pairs: exact n-gram Jaccard via an inverted-index join
  (explode n-grams → co-occurrence counts → |A∩B| / (|A|+|B|-|A∩B|)).
- embedding_neardup_pairs: blocked pairwise cosine similarity.

All pair generation is blocked/bucketed so no operator materializes the full
n² cross product.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from feathub_spark.common.exceptions import FeathubError
from feathub_spark.common.caching import iterate, register_cache, track_checkpoint
from feathub_spark.common.parallelism import ensure_parallelism

_MERSENNE_P = (1 << 61) - 1


def exact_dedup(
    df: DataFrame, content_cols: Sequence[str], id_col: str
) -> DataFrame:
    """One surviving row id per distinct content; dup_count per group."""
    return df.groupBy(*[F.col(c) for c in content_cols]).agg(
        F.min(id_col).alias(id_col),
        F.count(F.lit(1)).alias("dup_count"),
    )


def streaming_exact_dedup(
    df: DataFrame,
    content_cols: Sequence[str],
    watermark_col: Optional[str] = None,
    delay: str = "10 seconds",
) -> DataFrame:
    """Streaming exact dedup over a Structured Streaming DataFrame.

    ``dropDuplicatesWithinWatermark`` keeps dedup state only within the
    watermark horizon, so state is bounded by (event rate x delay) — the
    only shape that survives an unbounded 100 TB/day stream; plain
    ``dropDuplicates`` on a stream accumulates state forever.  Duplicates
    separated by more than ``delay`` of event time may both survive (the
    usual watermark trade-off).  Pass ``watermark_col`` to set the
    watermark here, or pre-watermark the input.  Batch callers use
    :func:`exact_dedup` instead."""
    if watermark_col is not None:
        df = df.withWatermark(watermark_col, delay)
    return df.dropDuplicatesWithinWatermark(list(content_cols))


def _shingles_sql(text_col: str, k: int) -> str:
    """Word k-shingles (space-joined runs of k consecutive tokens)."""
    toks = f"filter(split(trim(lower(`{text_col}`)), '\\\\s+'), t -> t <> '')"
    return (
        f"CASE WHEN size({toks}) >= {k} THEN "
        f"array_distinct(transform(sequence(1, size({toks}) - {k} + 1), "
        f"i -> array_join(slice({toks}, i, {k}), ' '))) "
        f"ELSE array(array_join({toks}, ' ')) END"
    )


# Java regex \s (no UNICODE_CHARACTER_CLASS): ASCII whitespace only —
# \xa0 /   etc. are NOT separators, matching Spark's split('\\s+')
_JAVA_WS = None  # compiled lazily so importing the module stays re-free


def _shingles_py(text, k: int):
    """Row twin of :func:`_shingles_sql` — byte-identical output
    (fuzz-pinned in tests/test_datapipe.py::test_shingles_arrow_twin):
    lower -> trim(' ') -> ASCII-\\s+ split -> drop empties -> first-
    occurrence-distinct k-gram joins; NULL text -> [None], short texts
    collapse to one all-token shingle ('' for empty input)."""
    global _JAVA_WS
    if _JAVA_WS is None:
        import re

        _JAVA_WS = re.compile("[ \t\n\x0b\f\r]+")
    if text is None:
        return [None]
    toks = [t for t in _JAVA_WS.split(text.lower().strip(" ")) if t]
    if len(toks) < k:
        return [" ".join(toks)]
    return list(dict.fromkeys(
        " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
    ))


def _shingles_col(text_col: str, k: int, impl: str = "auto"):
    """Shingle column dispatch: the Arrow pandas-UDF twin by default
    (Catalyst evaluates the per-position slice+array_join lambda
    interpreted — measured ~5x slower than the Python row twin on the
    documents fixture), ``impl="sql"`` forces the pure-Catalyst fold the
    oracles re-derive.  Both produce identical values, so every caller is
    oracle-checkable either way."""
    if impl == "sql":
        return F.expr(_shingles_sql(text_col, k))
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.ArrayType(T.StringType()))
    def _sh(texts):
        import pandas as pd

        return pd.Series([_shingles_py(t, k) for t in texts])

    return _sh(F.col(text_col))


# per-slice text-byte bound for the flat shingle emit: the expansion holds
# ~k x this many bytes in flight per task (see sliced() below); module-level
# so the conformance test can shrink it to force the slicing path
_SHINGLE_SLICE_BYTES = 32 << 20


def _shingle_rows_arrow(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """Flat ``(__id__, __n__, __gram__)`` shingle rows via ``mapInArrow`` —
    the already-exploded shape the inverted-index consumers reduce the
    shingle ARRAY to anyway, produced without per-gram Python lists or a
    JVM explode (guide §4).

    Per batch: texts lower+trim per row in Python (Python ``str.lower``
    matches Spark's JVM lowering incl. final-sigma / dotted-I — pinned by
    the shingle fuzz; pyarrow's ``utf8_lower`` would NOT apply the
    context-sensitive final-sigma rule), then everything downstream is
    vectorized C: RE2 ``split_pattern_regex`` on the ASCII-\\s class,
    empty-token filter at the flat level, k-gram strings via k shifted
    ``take`` gathers + one ``binary_join_element_wise``, and per-doc
    distinct via ``dictionary_encode`` + one ``np.unique`` over packed
    (doc, code) keys.  Value semantics are exactly ``_shingles_sql``
    exploded: NULL text -> one NULL gram (n=1), fewer than k tokens ->
    one join-all gram (n=1, '' for empty), else distinct k-grams with
    ``__n__`` = the distinct count.  Row order differs (no consumer
    observes it).  Rows with NULL id must be filtered by the CALLER
    before this emit (matching the None-path contract)."""
    from pyspark.sql import types as T

    id_type = df.schema[id_col].dataType
    out_schema = T.StructType([
        T.StructField("__id__", id_type),
        T.StructField("__n__", T.LongType()),
        T.StructField("__gram__", T.StringType()),
    ])

    # captured at plan-build time so the closure ships the value to the
    # Python workers (a module-global read would see each worker's own
    # fresh import, making the bound untestable from the driver)
    slice_bytes = _SHINGLE_SLICE_BYTES

    def gen(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        def sliced(batches):
            # Bound the expansion working set: the k-gram emit holds
            # ~k x a batch's text bytes in flight, so a 10k-row Arrow
            # batch of very large documents could spike worker memory
            # (every row is per-doc independent, so slicing input rows
            # is semantics-free).  Slices group rows greedily up to
            # _SHINGLE_SLICE_BYTES of text (always >= 1 row).
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                per_row = pc.fill_null(
                    pc.binary_length(rb.column(1)), 0
                ).to_numpy(zero_copy_only=False).astype(np.int64)
                if per_row.sum() <= slice_bytes:
                    yield rb
                    continue
                start = 0
                n = rb.num_rows
                while start < n:
                    acc = 0
                    end = start
                    while end < n and (
                        end == start
                        or acc + per_row[end] <= slice_bytes
                    ):
                        acc += per_row[end]
                        end += 1
                    yield rb.slice(start, end - start)
                    start = end

        for rb in sliced(batches):
            n_rows = rb.num_rows
            ids = rb.column(0)
            raw = rb.column(1).to_pylist()
            lowered = pa.array(
                [t.lower().strip(" ") if t is not None else None for t in raw],
                type=pa.string(),
            )
            toks = pc.split_pattern_regex(lowered, pattern="[ \t\n\x0b\f\r]+")
            lens = pc.fill_null(
                pc.list_value_length(toks), 0
            ).to_numpy(zero_copy_only=False).astype(np.int64)
            null_text = np.asarray(
                pc.is_null(lowered).to_numpy(zero_copy_only=False), dtype=bool
            )
            flat = toks.flatten()
            doc_of_tok = np.repeat(np.arange(n_rows, dtype=np.int64), lens)
            keep = np.asarray(
                pc.not_equal(flat, "").to_numpy(zero_copy_only=False), dtype=bool
            )
            kept = flat.filter(pa.array(keep))
            kdoc = doc_of_tok[keep]
            kl = np.bincount(kdoc, minlength=n_rows)
            koff = np.zeros(n_rows + 1, dtype=np.int64)
            np.cumsum(kl, out=koff[1:])

            out_doc_parts, out_n_parts, out_gram_parts = [], [], []

            # normal docs: kl >= k -> kl - k + 1 raw grams, then per-doc distinct
            normal = np.nonzero(~null_text & (kl >= k))[0]
            if normal.size:
                gcounts = kl[normal] - k + 1
                total = int(gcounts.sum())
                doc_idx_g = np.repeat(normal, gcounts)
                gends = np.cumsum(gcounts)
                within = np.arange(total, dtype=np.int64) - np.repeat(
                    gends - gcounts, gcounts
                )
                starts = np.repeat(koff[normal], gcounts) + within
                parts = [pc.take(kept, pa.array(starts + j)) for j in range(k)]
                grams = (
                    parts[0] if k == 1
                    else pc.binary_join_element_wise(*parts, " ")
                )
                enc = pc.dictionary_encode(grams)
                codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
                packed = doc_idx_g * (len(enc.dictionary) + 1) + codes
                _, first_idx = np.unique(packed, return_index=True)
                out_doc = doc_idx_g[first_idx]
                ndist = np.bincount(out_doc, minlength=n_rows)
                out_doc_parts.append(out_doc)
                out_n_parts.append(ndist[out_doc])
                out_gram_parts.append(pc.take(grams, pa.array(first_idx)))

            # short docs: kl < k -> ONE join-all gram ('' when tokenless)
            for c in range(k):
                short = np.nonzero(~null_text & (kl == c))[0]
                if not short.size:
                    continue
                if c == 0:
                    g = pa.array([""] * short.size, type=pa.string())
                else:
                    base = koff[short]
                    sp = [pc.take(kept, pa.array(base + j)) for j in range(c)]
                    g = sp[0] if c == 1 else pc.binary_join_element_wise(*sp, " ")
                out_doc_parts.append(short)
                out_n_parts.append(np.ones(short.size, dtype=np.int64))
                out_gram_parts.append(g)

            # NULL text -> one NULL gram row (n = 1), like explode([NULL])
            nulls = np.nonzero(null_text)[0]
            if nulls.size:
                out_doc_parts.append(nulls)
                out_n_parts.append(np.ones(nulls.size, dtype=np.int64))
                out_gram_parts.append(pa.nulls(nulls.size, pa.string()))

            if not out_doc_parts:
                continue
            all_doc = np.concatenate(out_doc_parts)
            all_n = np.concatenate(out_n_parts)
            all_grams = pa.concat_arrays([
                g.combine_chunks() if isinstance(g, pa.ChunkedArray) else g
                for g in out_gram_parts
            ])
            yield pa.RecordBatch.from_arrays(
                [pc.take(ids, pa.array(all_doc)), pa.array(all_n), all_grams],
                ["__id__", "__n__", "__gram__"],
            )

    proj = ensure_parallelism(df).select(F.col(id_col), F.col(text_col))
    return proj.mapInArrow(gen, out_schema)


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    shingle_k: int = 3,
    seed: int = 42,
    shingles_col: Optional[str] = None,
) -> DataFrame:
    """Append __minhash__: array<bigint> of length num_hashes.

    Pass ``shingles_col`` to derive signatures from an existing shingle
    array column instead of re-tokenizing (lets callers share the
    tokenization between signature and verification)."""
    import random

    rnd = random.Random(seed)
    params = [
        (rnd.randrange(1, _MERSENNE_P), rnd.randrange(0, _MERSENNE_P))
        for _ in range(num_hashes)
    ]
    shingle_expr = (
        f"`{shingles_col}`" if shingles_col else _shingles_sql(text_col, shingle_k)
    )
    base = f"transform({shingle_expr}, s -> abs(xxhash64(s)) % {_MERSENNE_P})"
    # Single traversal of the shingle hashes: fold a running-minimum vector of
    # all num_hashes rehash chains at once (one aggregate with a zip_with
    # step), instead of num_hashes independent array_min(transform(...))
    # passes that each rescan the hash array.  The (a,b) parameter array is a
    # literal, so Catalyst constant-folds it out of the per-element lambda.
    params_arr = "array(" + ", ".join(
        f"named_struct('a', {a}L, 'b', {b}L)" for a, b in params
    ) + ")"
    sig = (
        f"aggregate(__mh_base__, "
        f"array_repeat({_MERSENNE_P}L, {num_hashes}), "
        f"(acc, h) -> zip_with(acc, {params_arr}, "
        f"(m, pr) -> least(m, (pr.a * h + pr.b) % {_MERSENNE_P})))"
    )
    return (
        df.withColumn("__mh_base__", F.expr(base))
        .withColumn("__minhash__", F.expr(sig))
        .drop("__mh_base__")
    )


def _bucket_pairs(df: DataFrame, bucket_cols, payload_struct_sql: str) -> DataFrame:
    """Candidate pairs within each bucket via sorted posting-list
    triangular expansion: ONE shuffle on the bucket key builds the member
    list, pairs expand in-array map-side — no self-join of the banded
    table (which would shuffle it twice more and sort-merge it).  The
    payload struct must lead with the id so the sorted expansion yields
    each (a.id < b.id) pair once.  Returns column ``p`` =
    struct(a, b) of payload structs."""
    posting = df.groupBy(*bucket_cols).agg(
        F.sort_array(F.collect_list(F.expr(payload_struct_sql))).alias("__mem__")
    )
    pair_expr = (
        "flatten(transform(sequence(1, size(__mem__) - 1), "
        "i -> transform(slice(__mem__, i + 1, size(__mem__) - i), "
        "b -> struct(element_at(__mem__, i) AS a, b AS b))))"
    )
    return (
        posting.filter(F.size("__mem__") >= 2)
        .select(F.explode(F.expr(pair_expr)).alias("p"))
    )


def _triu_expand_generator(array_cols, out_names, flush_pairs=1 << 20):
    """Shared Arrow-native core for the pair-expansion twins (consumed via
    ``mapInArrow``): posting rows arrive as Arrow list arrays — flat value
    buffers plus offsets, NO per-row Python objects — and pairs expand by
    grouping rows by list LENGTH: every row of length m shares one cached
    ``triu_indices(m, 1)`` grid, so the (upper, lower) gather positions
    for a whole length-group are one broadcasted numpy add and the value
    gather is one ``pyarrow.compute.take`` per output column.  Python-
    level work per batch is O(distinct lengths), not O(rows) — the
    previous per-row numpy loop spent ~30 µs/row on ~10^5-row posting
    batches, which WAS the expansion stage (guide §4: hand whole batches
    to vectorized native code).

    Memory stays bounded two ways: length-groups emit in chunks of at
    most ``flush_pairs`` expanded pairs (a row near a 1024 doc-frequency
    cap expands to ~524k pairs), and the triu grid cache only keeps
    lengths <= 128 — posting lengths cluster heavily at the small end, so
    the win concentrates there while a heavy tail of large lists cannot
    accumulate multi-GB of cached index arrays (the r13 advisor flag)."""

    def _expand(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        triu_cache: dict = {}

        def _triu(m: int):
            if m > 128:
                return np.triu_indices(m, 1)
            got = triu_cache.get(m)
            if got is None:
                got = triu_cache[m] = np.triu_indices(m, 1)
            return got

        for rb in batches:
            if rb.num_rows == 0:
                continue
            cols = [rb.column(c) for c in array_cols]
            lens = pc.fill_null(
                pc.list_value_length(cols[0]), 0
            ).to_numpy(zero_copy_only=False).astype(np.int64)
            # flatten() honors slicing/validity, so cumsum(lens) are the
            # flattened-value offsets regardless of the batch's window
            flats = [c.flatten() for c in cols]
            starts = np.zeros(lens.size + 1, dtype=np.int64)
            np.cumsum(lens, out=starts[1:])
            for m in np.unique(lens):
                if m < 2:
                    continue
                rows = np.nonzero(lens == m)[0]
                iu, ju = _triu(int(m))
                chunk = max(1, flush_pairs // iu.size)
                for s in range(0, rows.size, chunk):
                    base = starts[rows[s : s + chunk]]
                    ia = pa.array((base[:, None] + iu[None, :]).ravel())
                    ib = pa.array((base[:, None] + ju[None, :]).ravel())
                    out = []
                    for fl in flats:
                        out.append(pc.take(fl, ia))
                        out.append(pc.take(fl, ib))
                    yield pa.RecordBatch.from_arrays(out, out_names)

    return _expand


def _expand_sized_pairs(postings: DataFrame, impl: str = "auto") -> DataFrame:
    """Triangular pair expansion of a ``__mem__ array<struct<i,n:bigint>>``
    posting column into (id_a, id_b, n_a, n_b) rows — each sorted-unique
    (a < b) member pair once.  Map-side work after the single posting
    shuffle, exactly like :func:`_bucket_pairs`, but the per-member size
    payload rides along so the consumer never joins a sizes table.

    ``impl="auto"`` uses an Arrow ``mapInArrow`` twin
    (:func:`_triu_expand_generator` — the Catalyst nested transform/slice
    lambdas are interpreted and measured ~2x slower on real posting
    shapes, and the batch-vectorized gather beats even a per-row numpy
    loop by another ~2x); ``impl="sql"`` keeps the pure-Catalyst form.
    Both emit identical rows, pinned by a randomized conformance test."""
    postings = postings.filter(F.size("__mem__") >= 2)
    if impl == "sql":
        pair_expr = (
            "flatten(transform(sequence(1, size(__mem__) - 1), "
            "i -> transform(slice(__mem__, i + 1, size(__mem__) - i), "
            "b -> struct(element_at(__mem__, i) AS a, b AS b))))"
        )
        return (
            postings.select(F.explode(F.expr(pair_expr)).alias("p"))
            .select(
                F.col("p.a.i").alias("id_a"),
                F.col("p.b.i").alias("id_b"),
                F.col("p.a.n").alias("n_a"),
                F.col("p.b.n").alias("n_b"),
            )
        )
    from pyspark.sql import types as T

    id_type = None
    for fld in postings.schema["__mem__"].dataType.elementType.fields:
        if fld.name == "i":
            id_type = fld.dataType
    out_schema = T.StructType([
        T.StructField("id_a", id_type),
        T.StructField("id_b", id_type),
        T.StructField("n_a", T.LongType()),
        T.StructField("n_b", T.LongType()),
    ])
    # two ALIGNED primitive arrays arrive as flat Arrow value buffers with
    # shared offsets (a list<struct> column would interleave the fields)
    proj = postings.select(
        F.expr("transform(__mem__, x -> x.i)").alias("__ids__"),
        F.expr("transform(__mem__, x -> x.n)").alias("__ns__"),
    )
    return proj.mapInArrow(
        _triu_expand_generator(
            ["__ids__", "__ns__"], ["id_a", "id_b", "n_a", "n_b"]
        ),
        out_schema,
    )


def _expand_id_pairs(
    postings: DataFrame, ids_col: str = "__ids__", impl: str = "auto"
) -> DataFrame:
    """Triangular pair expansion of a sorted-id array column into
    (id_a, id_b) rows — each (a < b) member pair once, map-side after the
    posting shuffle.  The payload-free sibling of
    :func:`_expand_sized_pairs` over the same
    :func:`_triu_expand_generator` core; identical rows to
    ``impl="sql"`` either way, pinned by the randomized conformance
    test."""
    postings = postings.filter(F.size(ids_col) >= 2)
    if impl == "sql":
        pair_expr = (
            f"flatten(transform(sequence(1, size(`{ids_col}`) - 1), "
            f"i -> transform(slice(`{ids_col}`, i + 1, size(`{ids_col}`) - i), "
            f"b -> struct(element_at(`{ids_col}`, i) AS id_a, b AS id_b))))"
        )
        return (
            postings.select(F.explode(F.expr(pair_expr)).alias("p"))
            .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        )
    from pyspark.sql import types as T

    id_type = postings.schema[ids_col].dataType.elementType
    out_schema = T.StructType([
        T.StructField("id_a", id_type),
        T.StructField("id_b", id_type),
    ])
    proj = postings.select(F.col(ids_col).alias("__ids__"))
    return proj.mapInArrow(
        _triu_expand_generator(["__ids__"], ["id_a", "id_b"]), out_schema
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate id pairs (a < b) whose exact shingle Jaccard >=
    threshold, found via banded-LSH candidate generation."""
    rows_per_band = num_hashes // bands
    # The shingle array feeds both the signature and (twice) the
    # verification join; Catalyst does not dedupe repeated subplans, so
    # tokenize ONCE into a column, derive signatures from it, and persist
    # the narrow (id, shingles, signature) projection (spills to disk at
    # scale).
    with_shingles = ensure_parallelism(df).select(
        F.col(id_col).alias("__id__"),
        _shingles_col(text_col, shingle_k).alias("__sh__"),
    )
    sigs = register_cache(minhash_signatures(
        with_shingles, text_col, "__id__", num_hashes, shingle_k, seed,
        shingles_col="__sh__",
    ))
    shingles = sigs.select("__id__", "__sh__")
    banded = _banded_buckets(
        sigs.select("__id__", "__minhash__"), bands, rows_per_band
    )

    candidates = (
        _bucket_pairs(banded, ["band", "bucket"], "struct(__id__)")
        .select(
            F.col("p.a.__id__").alias("id_a"),
            F.col("p.b.__id__").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = (
        candidates.join(
            shingles.select(
                F.col("__id__").alias("id_a"), F.col("__sh__").alias("sh_a")
            ),
            "id_a",
        )
        .join(
            shingles.select(
                F.col("__id__").alias("id_b"), F.col("__sh__").alias("sh_b")
            ),
            "id_b",
        )
    )
    jac = (
        "CAST(size(array_intersect(sh_a, sh_b)) AS DOUBLE) / "
        "size(array_union(sh_a, sh_b))"
    )
    return (
        pairs.withColumn("jaccard", F.expr(jac))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _banded_buckets(sigs: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(__id__, band, bucket) from a ``__minhash__`` signature column —
    one bucket key per band, the LSH collision unit shared by
    :func:`minhash_lsh_pairs` and the incremental index."""
    return sigs.select(
        F.col("__id__"),
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> struct(b AS band, "
                f"xxhash64(array_join(slice(__minhash__, b * {rows_per_band} + 1, "
                f"{rows_per_band}), ',')) AS bucket))"
            )
        ).alias("bb"),
    ).select("__id__", F.col("bb.band"), F.col("bb.bucket"))


def minhash_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Materializable LSH bucket index (``band``, ``bucket``, ``doc_id``,
    ``shingles``) for INCREMENTAL near-dup detection: build it over the
    historical corpus once, write it out (bucketed by (band, bucket) so
    the per-ingest candidate join needs no index-side shuffle), then check
    every new shard with :func:`match_minhash_index` — only the shard is
    signature-hashed per ingest.

    The shingle array rides along per (doc, band) row so verification
    needs no second table; for band counts where that duplication bites
    at scale, store ``shingles`` in a separate doc-keyed table and join it
    in at verify time instead.  All parameters must match between index
    build and match calls — bucket keys are a function of them."""
    rows_per_band = num_hashes // bands
    with_shingles = ensure_parallelism(df).select(
        F.col(id_col).alias("__id__"),
        _shingles_col(text_col, shingle_k).alias("__sh__"),
    )
    # sigs feeds BOTH join sides below; Catalyst does not dedupe repeated
    # subplans (the minhash_lsh_pairs hazard), so uncached, the whole
    # historical corpus would be tokenized + signature-hashed twice per
    # index build.  (Caller releases via release_caches().)
    sigs = register_cache(minhash_signatures(
        with_shingles, text_col, "__id__", num_hashes, shingle_k, seed,
        shingles_col="__sh__",
    ))
    return (
        _banded_buckets(sigs.select("__id__", "__minhash__"), bands, rows_per_band)
        .join(sigs.select("__id__", "__sh__"), on="__id__")
        .select(
            "band", "bucket",
            F.col("__id__").alias("doc_id"),
            F.col("__sh__").alias("shingles"),
        )
    )


def match_minhash_index(
    new_df: DataFrame,
    index: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """Incremental near-dup check: (``new_id``, ``match_id``, ``jaccard``)
    for every NEW document whose exact shingle Jaccard against an indexed
    document is >= ``threshold``, with candidates generated by LSH bucket
    collisions against ``index`` (a table from :func:`minhash_index`; same
    num_hashes/bands/shingle_k/seed required).

    Plan: the new shard is tokenized + signature-hashed once (narrow,
    cached); candidates come from ONE equi-join on (band, bucket) — the
    historical corpus is never re-hashed; verification joins the shard's
    own shingles with the candidate rows' stored shingles (already on the
    candidate row — zero extra index access).  Same recall caveat as all
    banded LSH: a true pair colliding in no band is missed, so size
    bands/rows-per-band for the target threshold."""
    rows_per_band = num_hashes // bands
    with_shingles = ensure_parallelism(new_df).select(
        F.col(id_col).alias("__id__"),
        _shingles_col(text_col, shingle_k).alias("__sh__"),
    )
    sigs = register_cache(minhash_signatures(
        with_shingles, text_col, "__id__", num_hashes, shingle_k, seed,
        shingles_col="__sh__",
    ))
    banded = _banded_buckets(sigs.select("__id__", "__minhash__"), bands, rows_per_band)
    cands = (
        banded.join(index, on=["band", "bucket"])
        .select(F.col("__id__").alias("new_id"), "doc_id", "shingles")
        .dropDuplicates(["new_id", "doc_id"])
    )
    jac = (
        "CAST(size(array_intersect(__sh__, shingles)) AS DOUBLE) / "
        "size(array_union(__sh__, shingles))"
    )
    return (
        cands.join(
            sigs.select(F.col("__id__").alias("new_id"), "__sh__"), on="new_id"
        )
        .withColumn("jaccard", F.expr(jac))
        .filter(F.col("jaccard") >= threshold)
        .select(
            "new_id",
            F.col("doc_id").alias("match_id"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq="auto",
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs via inverted-index join —
    fully SQL-expressible (oracle-checkable), no hashing involved.

    ``max_doc_freq`` is the scale knob: grams appearing in more than this
    many documents are dropped from the INVERTED INDEX ONLY (candidate
    generation), bounding the worst-case join fan-out of corpus-wide
    stop-grams; Jaccard is still computed over the full gram sets, so a
    found pair's score is exact — only pairs connected exclusively through
    stop-grams can be missed (approximate recall, exact precision).

    The default ``"auto"`` cuts grams whose document frequency exceeds
    min(1024, max(64, 0.1% of the corpus row count)) — without a cut, one
    corpus-wide stop-gram ("the") makes candidate generation quadratic in
    the corpus size.  The 1024 CAP is what holds at 100 TB: a cutoff that
    kept growing with the corpus (n/1000 at 10^10 docs = 10^7-doc posting
    lists → ~10^13 candidate pairs from a single gram) bounds recall loss
    but not cost; capping bounds worst-case pair fan-out per gram at ~500k
    while near-duplicate evidence only ever needs RARE shared grams.  The
    cutoff is computed in-plan (broadcast one-row count), no driver-side
    action.  Pass an int for an absolute cutoff or ``None`` to disable the
    cut entirely (exact recall; only safe on small corpora)."""
    if max_doc_freq is None:
        # Complete index: the co-occurrence count IS |A ∩ B|, so if each
        # doc's gram-count rides INSIDE the posting entry the jaccard
        # needs no join back onto a sizes table — two fewer exchanges,
        # and the gram projection is consumed exactly once (no cache).
        # NULL-id rows are dropped BEFORE the flat emit: the cut path's
        # bare collect_list skips them — keep the two paths row-identical
        # on any input.
        inverted = _shingle_rows_arrow(
            df.filter(F.col(id_col).isNotNull()), text_col, id_col, n
        )
        postings = inverted.groupBy("__gram__").agg(
            F.sort_array(
                F.collect_list(F.struct(
                    F.col("__id__").alias("i"), F.col("__n__").alias("n")
                ))
            ).alias("__mem__")
        )
        return (
            _expand_sized_pairs(postings)
            .groupBy("id_a", "id_b", "n_a", "n_b")
            .agg(F.count(F.lit(1)).alias("common"))
            .withColumn(
                "jaccard",
                F.round(
                    F.col("common")
                    / (F.col("n_a") + F.col("n_b") - F.col("common")),
                    6,
                ),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
    # Flat (id, n, gram) rows from ONE mapInArrow pass — the same emit
    # as the complete-index path above (no per-row Python gram lists, no
    # JVM explode, no full-corpus gram-ARRAY cache); cached because the
    # index build and the survivor verify both read it.  NULL-id rows
    # are dropped up front exactly like the old bare collect_list did.
    from feathub_spark.common.caching import register_cache

    flat = register_cache(
        _shingle_rows_arrow(
            df.filter(F.col(id_col).isNotNull()), text_col, id_col, n
        )
    )
    # One shuffle builds the sorted posting list per gram, each entry
    # carrying its doc's full distinct-gram count — candidate counting
    # AND the exactness-preserving prune below then need no join back
    # onto a separate sizes table.  Pair candidates expand IN-ARRAY from
    # the posting list — map-side work after that single shuffle —
    # instead of a self-join of the exploded index (which shuffles the
    # full index twice more and sort-merges it).  The doc-frequency cut
    # becomes a free size() filter on the posting list.  With
    # max_doc_freq=None a corpus-wide stop-gram materializes its full
    # posting array (the same n² hazard the self-join had) — the cut is
    # what makes this scale-safe.
    postings = flat.groupBy("__gram__").agg(
        F.sort_array(
            F.collect_list(F.struct(
                F.col("__id__").alias("i"), F.col("__n__").alias("n")
            ))
        ).alias("__mem__")
    )
    if max_doc_freq == "auto":
        # corpus row count from a one-COLUMN projection of the input —
        # column pruning reaches the scan and the tokenize never
        # re-executes.  (The old array route counted its cached
        # full-gram-array projection instead; the flat cache has no
        # one-row-per-doc shape to count, and the pruned id scan is the
        # cheaper read anyway.)  Count of INPUT rows, NULL ids included,
        # exactly as before.
        cut_row = df.select(F.col(id_col)).agg(
            F.least(
                F.lit(1024).cast("long"),
                F.greatest(
                    F.lit(64).cast("long"),
                    (F.count(F.lit(1)) / 1000).cast("long"),
                ),
            ).alias("__cut__")
        )
        postings = (
            postings.join(F.broadcast(cut_row))
            .filter(F.size("__mem__") <= F.col("__cut__"))
            .drop("__cut__")
        )
    else:
        postings = postings.filter(F.size("__mem__") <= max_doc_freq)
    # ids are sorted and distinct, so the triangular expansion yields
    # each (id_a < id_b) pair once per shared gram
    co = (
        _expand_sized_pairs(postings)
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    # With the doc-freq cut the index undercounts intersections, so
    # candidates must be re-verified against the FULL gram sets.  The
    # verify is the expensive step (candidates sharing one rare gram
    # vastly outnumber true near-dups), so prune first with an
    # exactness-preserving upper bound: the cut can hide at most
    # min(stop_a, stop_b) shared grams, where stop_x = |X| - (grams of x
    # surviving the cut), hence
    #   true_jaccard <= (common + m) / (n_a + n_b - common - m),
    # m = min(stop_a, stop_b).  Pairs whose bound cannot reach the
    # threshold are dropped WITHOUT touching the gram rows again.  Every
    # doc in co shares >= 1 surviving gram, so the inner rare-count
    # join loses nobody.
    rare_counts = (
        postings.select(F.explode("__mem__").alias("__e__"))
        .groupBy(F.col("__e__.i").alias("__id__"))
        .agg(F.count(F.lit(1)).alias("__rare__"))
    )
    m = F.least(F.col("stop_a"), F.col("stop_b"))
    ubound = (F.col("common") + m) / F.greatest(
        F.col("n_a") + F.col("n_b") - F.col("common") - m, F.lit(1)
    )
    survivors = (
        co.join(
            rare_counts.select(
                F.col("__id__").alias("id_a"),
                F.col("__rare__").alias("__ra__"),
            ),
            "id_a",
        )
        .join(
            rare_counts.select(
                F.col("__id__").alias("id_b"),
                F.col("__rare__").alias("__rb__"),
            ),
            "id_b",
        )
        .withColumn("stop_a", F.col("n_a") - F.col("__ra__"))
        .withColumn("stop_b", F.col("n_b") - F.col("__rb__"))
        # 1e-6 slack: the final filter rounds to 6 decimals, so a true
        # jaccard as low as threshold - 5e-7 can still round in
        .filter(ubound >= threshold - 1e-6)
        .select("id_a", "id_b", "n_a", "n_b")
    )
    # Exact full-set intersection for the (few) survivors by recounting
    # shared grams from the flat rows — null-safe gram equality so two
    # NULL-text documents (one NULL gram each) still intersect, exactly
    # like array_intersect did on the array route.  Gram sets are
    # distinct per doc, so |A u B| = n_a + n_b - |A n B| and the
    # count/(n_a + n_b - count) division tree is the same double
    # division the array form evaluated — scores identical to the bit.
    fa = flat.select(
        F.col("__id__").alias("id_a"), F.col("__gram__").alias("__ga__")
    )
    fb = flat.select(
        F.col("__id__").alias("__idb__"), F.col("__gram__").alias("__gb__")
    )
    verified = (
        survivors.join(fa, "id_a")
        .join(
            fb,
            on=(F.col("id_b") == F.col("__idb__"))
            & F.col("__ga__").eqNullSafe(F.col("__gb__")),
        )
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("__common__"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("__common__")
                / (F.col("n_a") + F.col("n_b") - F.col("__common__")),
                6,
            ),
        )
    )
    return verified.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )


_MERSENNE_31 = (1 << 31) - 1


def simhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Append __simhash__ bigint: per-token 64-bit hash, bitwise majority.

    Single pass over the token hashes: fold into a 64-wide counter array
    (zip_with accumulate), then collapse sign bits.  Intermediates are
    materialized as columns so nothing is recomputed per bit.

    ``hash_fn="poly"`` swaps xxhash64 for two 31-bit multiplicative
    rolling hashes of the token characters (mod 2^31-1, different
    multipliers/inits) concatenated to a 62-bit token hash — slower than
    xxhash64 but exactly reproducible in any ANSI SQL engine (no int64
    overflow anywhere), which makes the whole fingerprint pipeline
    oracle-checkable.  Use bits=62 with it.  The large multipliers keep
    even single-character tokens well-dispersed across all bits.
    """
    df = ensure_parallelism(df)
    toks = f"filter(split(trim(lower(`{text_col}`)), '\\\\s+'), t -> t <> '')"
    if hash_fn == "xxhash64":
        tok_hash = "xxhash64(t)"
    elif hash_fn == "poly":
        chars = (
            f"transform(sequence(1, length(t)), "
            f"i -> CAST(ascii(substr(t, i, 1)) AS BIGINT))"
        )
        # both folds in ONE char pass (struct accumulator + finish lambda)
        tok_hash = (
            f"aggregate({chars}, "
            f"named_struct('a', CAST(7 AS BIGINT), 'b', CAST(13 AS BIGINT)), "
            f"(acc, c) -> named_struct("
            f"'a', (acc.a * 1103515245 + c) % {_MERSENNE_31}, "
            f"'b', (acc.b * 69069 + c) % {_MERSENNE_31}), "
            f"acc -> acc.a * 2147483648L + acc.b)"
        )
    else:
        raise FeathubError(f"unknown simhash hash_fn: {hash_fn!r}")
    hashes = f"transform(array_distinct({toks}), t -> {tok_hash})"
    df = df.withColumn("__tok_hashes__", F.expr(hashes))
    bit_counts = (
        f"aggregate(`__tok_hashes__`, "
        f"array_repeat(0, {bits}), "
        f"(acc, h) -> zip_with(acc, sequence(0, {bits - 1}), "
        f"(a, b) -> a + CAST(shiftright(h, b) & 1 AS INT)))"
    )
    df = df.withColumn("__bit_counts__", F.expr(bit_counts)).withColumn(
        "__n_hashes__", F.size("__tok_hashes__")
    )
    sim = (
        f"aggregate(zip_with(`__bit_counts__`, sequence(0, {bits - 1}), "
        f"(c, b) -> CASE WHEN 2 * c > `__n_hashes__` "
        f"THEN shiftleft(1L, CAST(b AS INT)) ELSE 0L END), "
        f"0L, (acc, x) -> acc | x)"
    )
    return df.withColumn("__simhash__", F.expr(sim)).drop(
        "__tok_hashes__", "__bit_counts__", "__n_hashes__"
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Pairs with simhash Hamming distance <= max_hamming.  Band the 64 bits
    into ``bands`` chunks: any pair within distance < bands shares at least
    one identical chunk (pigeonhole), so the bucket join finds all of them
    without an n^2 scan.  The banding is EXACT (full recall) for
    max_hamming < bands, so the output is a deterministic function of the
    input — with ``hash_fn="poly"`` it is reproducible in plain SQL."""
    if max_hamming >= bands:
        raise FeathubError(
            f"simhash banding guarantees recall only for hamming < bands; "
            f"got max_hamming={max_hamming}, bands={bands} — raise bands."
        )
    # ceil(bits/bands), NOT 64//bands: with small `bits` a 64-based width
    # put the high bands entirely past the signature — every document's
    # chunk there was 0, and the bucket self-join went quadratic in the
    # corpus on those bands.  Ceil keeps the chunks covering all `bits`
    # (pigeonhole recall needs every DIFFERING bit inside some chunk, and
    # bits beyond the signature never differ), and reproduces the old
    # width exactly for bits=62/64, the oracle-pinned configurations.
    width = (bits + bands - 1) // bands
    sh = simhash(df, text_col, id_col, bits=bits, hash_fn=hash_fn).select(
        F.col(id_col).alias("__id__"), "__simhash__"
    )
    banded = sh.select(
        "__id__",
        "__simhash__",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> struct(b AS band, "
                f"shiftright(__simhash__, b * {width}) & {(1 << width) - 1} AS chunk))"
            )
        ).alias("bb"),
    ).select("__id__", "__simhash__", F.col("bb.band"), F.col("bb.chunk"))
    # simhash band buckets are COARSE (a 16-bit chunk; common text shapes
    # collide heavily), so the pair expansion stays a self-join — Spark
    # parallelizes a big bucket's quadratic output across tasks, while an
    # in-array posting-list expansion would build it inside one row
    # (measured 4x slower at sf0.1).  Posting lists win only for
    # fine-grained buckets (minhash signature bands, doc-freq-cut grams).
    cand = (
        banded.alias("l")
        .join(
            banded.alias("r"),
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.chunk") == F.col("r.chunk"),
                F.col("l.__id__") < F.col("r.__id__"),
            ],
        )
        .select(
            F.col("l.__id__").alias("id_a"),
            F.col("r.__id__").alias("id_b"),
            F.col("l.__simhash__").alias("sh_a"),
            F.col("r.__simhash__").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("hamming", F.expr("bit_count(sh_a ^ sh_b)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    algorithm: str = "label",
) -> DataFrame:
    """Connected components over near-duplicate pairs: every document gets
    the smallest reachable id as ``cluster_id`` (the canonical survivor).

    ``algorithm="label"`` (default): iterative min-label propagation —
    each round every node adopts the minimum label among itself and its
    neighbors; ONE shuffle per round but O(component diameter) rounds, the
    right trade for near-dup graphs (components are dense and shallow).
    ``algorithm="star"``: alternating large-star/small-star (Kiveris et
    al. 2014, "Connected Components in MapReduce and Beyond") — more
    shuffles per round but O(log n) rounds, the safe choice when a
    pathological duplicate CHAIN (diameter ~ component size, e.g.
    near-identical versioned pages) would starve label propagation.
    Results are identical; test_datapipe.py pins both on random graphs
    and a 300-link chain.

    Intermediate results are localCheckpointed so the plan does not grow
    unboundedly.  Raises ``RuntimeError`` on non-convergence within
    ``max_iterations`` (unconverged labels would silently split one
    component into several)."""
    if algorithm == "star":
        return _dedup_clusters_star(pairs, id_a, id_b, max_iterations)
    if algorithm != "label":
        raise ValueError(f"unknown dedup_clusters algorithm: {algorithm!r}")
    # in-place symmetrize (see plan_shapes.symmetrize_pairs): ``pairs``
    # usually arrives as a live candidate-generation subplan (posting
    # expansion + jaccard verify) that a two-branch union would execute
    # twice just to build the edge list
    from feathub_spark.common.plan_shapes import symmetrize_pairs

    # loop-invariant: iterate() frees it on every exit path
    edges = register_cache(
        symmetrize_pairs(pairs, id_a, id_b, "s", "d").distinct(),
        StorageLevel.MEMORY_AND_DISK_DESER,
    )
    # seed each node with min(id, min direct neighbor) — the same shuffle
    # the old distinct-ids init paid, but it folds the first propagation
    # hop into initialization: a clique (the typical near-dup component)
    # is already at its fixpoint, so the loop runs ONE confirm round
    # instead of propagate + confirm, and a diameter-k chain converges in
    # k-1 rounds instead of k.  The fixpoint itself (min reachable id) is
    # unchanged — labels only ever decrease toward it
    labels = edges.groupBy(F.col("s").alias("id")).agg(
        F.least(F.min("d"), F.min("s")).alias("cluster_id")
    )

    def _round(labels: DataFrame) -> DataFrame:
        neighbor_min = (
            edges.join(labels, edges["d"] == labels["id"])
            .groupBy(F.col("s").alias("id"))
            .agg(F.min("cluster_id").alias("nmin"))
        )
        # min-labels only ever decrease, so "changed" is knowable inside the
        # update projection — no extra new-vs-old join per round, and the
        # convergence probe is a limit(1) scan of the round's checkpoint
        nmin = F.coalesce(F.col("nmin"), F.col("cluster_id"))
        return labels.join(neighbor_min, "id", "left").select(
            "id",
            F.least(F.col("cluster_id"), nmin).alias("cluster_id"),
            (nmin < F.col("cluster_id")).alias("__changed__"),
        )

    # the probe's one job materializes the whole round: LocalLimit(1) runs
    # per partition, and a checkpointed partition is stored wholesale
    labels = iterate(
        labels, _round, max_iterations, invariants=[edges],
        stop=lambda new, _: new.filter(F.col("__changed__")).limit(1).count() == 0,
    )
    if labels is None:
        raise RuntimeError(
            f"dedup_clusters did not converge within {max_iterations} "
            "iterations (a connected component's diameter exceeds the "
            "limit); raise max_iterations or use algorithm='star'"
        )
    return labels.drop("__changed__")


def _dedup_clusters_star(
    pairs: DataFrame, id_a: str, id_b: str, max_iterations: int
) -> DataFrame:
    """Alternating large-star/small-star connected components (docstring of
    :func:`dedup_clusters`).  Invariant carried between rounds: the edge
    set is oriented larger -> smaller (a > b) and distinct.

    - large-star: for each node u (over the symmetrized edges) with
      neighbor set N, connect every STRICTLY LARGER neighbor v > u to
      m = min({u} ∪ N) — long chains collapse towards minima
      logarithmically;
    - small-star: for each node u over the (a > b)-oriented edges with
      smaller-neighbor set N, connect u and every v ∈ N to min(N) —
      flattens local trees into stars.

    Converged when a full round leaves the oriented edge set unchanged.
    The per-round check is one (count, sum-of-edge-hashes) aggregate —
    two shuffle-less jobs cheaper than set subtraction — and only a
    MATCHING fingerprint triggers the exact exceptAll
    confirmation, so a hash collision can cost one extra confirm job but
    never a wrong answer.  Every node's final cluster is its direct
    neighbor minimum (the star root), or itself for roots/isolated ids."""
    # Materialize the input pair list ONCE: ``pairs`` usually arrives as a
    # live candidate-generation subplan (posting-list expansion + verify)
    # that would otherwise execute twice — once for the first-round edges
    # and again for the final node join.
    base = track_checkpoint(
        pairs.select(
            F.col(id_a).alias("x"), F.col(id_b).alias("y")
        ).localCheckpoint(eager=True)
    )
    nodes = (
        base.select(F.col("x").alias("id"))
        .unionByName(base.select(F.col("y").alias("id")))
        .distinct()
    )
    # LAZY checkpoint: the fingerprint aggregate below consumes every
    # row, so its job materializes the blocks and truncates lineage —
    # no separate eager-materialize job followed by a cache-read pass
    # (the same fusion as the rounds below)
    e = track_checkpoint(
        base.select(
            F.greatest(F.col("x"), F.col("y")).alias("a"),
            F.least(F.col("x"), F.col("y")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def _fingerprint(edges: DataFrame):
        row = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("a", "b")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    fp = _fingerprint(e)
    from feathub_spark.common.plan_shapes import symmetrize_pairs

    from pyspark.sql import Window

    # Each star half used to be a groupBy(min) + equi-join back onto the
    # SAME rows — two consumers of one subtree, so Catalyst evaluated the
    # round's upstream twice per half (and planned an exchange + a
    # broadcast build per half).  A partition-only window computes the
    # identical per-key min and re-attaches it to every row in ONE pass
    # behind ONE exchange: per round the plan is now checkpoint scan ->
    # Exchange(s) -> Window -> Exchange(a) -> Window -> Generate ->
    # Exchange(a,b 'distinct') -> fingerprint, every subtree evaluated
    # once (guide `2.4: two operations keyed the same way share one
    # exchange).  The window's unbounded-frame min buffers one node's
    # edges per group in a spillable row buffer — same magnitude the
    # star reducer fundamentally regroups anyway.
    w_s = Window.partitionBy("s")
    w_a = Window.partitionBy("a")

    def _round(e: DataFrame) -> DataFrame:
        sym = symmetrize_pairs(e, "a", "b", "s", "d")
        large = (
            sym.withColumn("__m__", F.min("d").over(w_s))
            .filter(F.col("d") > F.col("s"))
            .select(
                F.col("d").alias("a"),
                F.least(F.col("s"), F.col("__m__")).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            # no distinct here: min() is duplicate-insensitive, the final
            # distinct dedups the round's output, and the large-star
            # projection emits at most one row per symmetrized edge — the
            # exchange an intermediate distinct would add buys nothing
        )
        return (
            large.withColumn("__m2__", F.min("b").over(w_a))
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("a").alias("x"), F.col("__m2__").alias("y")),
                        F.struct(F.col("b").alias("x"), F.col("__m2__").alias("y")),
                    )
                ).alias("__e__")
            )
            .select(F.col("__e__.x").alias("a"), F.col("__e__.y").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    def _unchanged(new_e: DataFrame, old_e: DataFrame) -> bool:
        # the fingerprint job materializes the round (it consumes every
        # row of every partition).  A one-directional confirm suffices: a
        # matching fingerprint already pins equal cardinality (n rides in
        # the fingerprint), and for equal-size multisets new_e \ old_e ==
        # {} implies equality
        nonlocal fp
        new_fp = _fingerprint(new_e)
        same = new_fp == fp and new_e.exceptAll(old_e).limit(1).count() == 0
        fp = new_fp
        return same

    e = iterate(e, _round, max_iterations, stop=_unchanged)
    if e is None:
        raise RuntimeError(
            f"dedup_clusters(algorithm='star') did not converge within "
            f"{max_iterations} rounds; raise max_iterations"
        )
    # the output reads the final edges and base: both stay tracked
    roots = e.groupBy(F.col("a").alias("id")).agg(F.min("b").alias("__root__"))
    return nodes.join(roots, "id", "left").select(
        "id", F.coalesce(F.col("__root__"), F.col("id")).alias("cluster_id")
    )


def select_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    order_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Keep/drop decision per row from near-duplicate pairs: cluster the
    pairs (connected components, see :func:`dedup_clusters`), attach every
    row to its cluster (unpaired rows form singleton clusters), and keep
    exactly one representative per cluster — the row with the largest
    ``order_col``, ties broken by smallest id.

    Scale posture: the window runs per cluster_id; cluster sizes are
    bounded by near-duplicate group sizes (small by construction), so no
    hot-key partition forms.  Output: (id, cluster_id, keep ∈ {0,1})."""
    from pyspark.sql import Window

    clusters = dedup_clusters(pairs, id_a, id_b, max_iterations)
    labeled = (
        df.select(F.col(id_col), F.col(order_col))
        .join(clusters.withColumnRenamed("id", id_col), id_col, "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", id_col))
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(order_col).desc(), F.col(id_col).asc()
    )
    from pyspark.sql.functions import row_number

    return labeled.withColumn(
        "keep", (row_number().over(w) == 1).cast("int")
    ).select(id_col, "cluster_id", "keep")


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    block_col: Optional[str] = None,
    planes: int = 16,
    bands: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Cosine near-duplicate pairs.  With ``block_col`` the pairwise compare
    runs within user-supplied blocks only (exact within blocks).  Without
    one, candidates are generated by banded sign-random-projection buckets
    (``planes``/``bands``/``seed``) — exact precision (every reported
    pair's cosine is computed and filtered against the threshold),
    approximate recall — so the operator NEVER falls back to an n² cross
    join at corpus scale."""
    # Norms are computed ONCE per row; candidate generation carries IDS
    # ONLY (posting-list pair expansion), and vectors are re-attached to the
    # deduplicated candidates afterward — the heavy embedding payload never
    # fans out across bands or blocks.
    norm = (
        f"sqrt(aggregate(transform(`{vec_col}`, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (a, x) -> a + x))"
    )
    df = ensure_parallelism(df)
    base = df.select(
        F.col(id_col).alias("__id__"),
        F.col(vec_col).alias("__v__"),
        F.expr(norm).alias("__norm__"),
    )
    # SRP band buckets (and user blocks) are COARSE — a few-bit hyperplane
    # pattern collides heavily — so pair expansion stays a self-join of the
    # ids-only banded table: a big bucket's quadratic output parallelizes
    # across tasks instead of materializing inside one posting-list row.
    if block_col:
        blk = df.select(
            F.col(block_col).alias("__blk__"), F.col(id_col).alias("__id__")
        )
        cand = (
            blk.alias("l")
            .join(
                blk.alias("r"),
                on=[
                    F.col("l.__blk__").eqNullSafe(F.col("r.__blk__")),
                    F.col("l.__id__") < F.col("r.__id__"),
                ],
            )
            .select(
                F.col("l.__id__").alias("id_a"), F.col("r.__id__").alias("id_b")
            )
        )
    else:
        from feathub_spark.datapipe.similarity import _srp_signature

        width = planes // bands
        banded = df.select(
            F.col(id_col).alias("__id__"),
            F.explode(
                F.expr(
                    f"transform(sequence(0, {bands - 1}), "
                    f"b -> struct(b AS band, xxhash64(array_join(slice("
                    f"{_srp_signature(vec_col, planes, None, seed)}, "
                    f"b * {width} + 1, {width}), '')) AS bucket))"
                )
            ).alias("bb"),
        ).select("__id__", F.col("bb.band").alias("__band__"), F.col("bb.bucket").alias("__bkt__"))
        cand = (
            banded.alias("l")
            .join(
                banded.alias("r"),
                on=[
                    F.col("l.__band__") == F.col("r.__band__"),
                    F.col("l.__bkt__") == F.col("r.__bkt__"),
                    F.col("l.__id__") < F.col("r.__id__"),
                ],
            )
            .select(
                F.col("l.__id__").alias("id_a"), F.col("r.__id__").alias("id_b")
            )
            # the same pair can collide in several bands
            .dropDuplicates(["id_a", "id_b"])
        )
    pairs = (
        cand.join(
            base.select(
                F.col("__id__").alias("id_a"), F.col("__v__").alias("v_a"),
                F.col("__norm__").alias("__na__"),
            ),
            "id_a",
        )
        .join(
            base.select(
                F.col("__id__").alias("id_b"), F.col("__v__").alias("v_b"),
                F.col("__norm__").alias("__nb__"),
            ),
            "id_b",
        )
        .withColumn("__nn__", F.col("__na__") * F.col("__nb__"))
    )
    dot = (
        "aggregate(zip_with(v_a, v_b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (a, x) -> a + x)"
    )
    return (
        pairs.withColumn("cosine", F.round(F.expr(dot) / F.col("__nn__"), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def fuzzy_match_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_distance: int = 2,
    block_expr: str = None,
    max_block_size: int = None,
) -> DataFrame:
    """Blocked fuzzy record linkage: pairs of rows whose ``text_col``
    values are within ``max_distance`` Levenshtein edits, with candidates
    generated by an equi-join on a BLOCKING key — never an all-pairs
    cross product.

    ``block_expr`` is a SQL expression over the row defining the block
    (default: the first 4 chars, lowercased/trimmed).  Blocking is the
    standard record-linkage recall trade: a true pair in different blocks
    is missed — pick the key from the stable part of your strings (for
    "adjective noun" data, the noun; for names, a phonetic key), or union
    the results of several blockings.  A length-band prune
    (``|len(a)-len(b)| <= max_distance``, a Levenshtein lower bound) and
    Spark's thresholded levenshtein (early exit above the cutoff) run
    inside each block, so the exact distance is only fully computed for
    near-matches.

    ``max_block_size`` drops blocks with more rows than the cap before
    the self-join (the quadratic guard, same contract as
    ngram_jaccard_pairs' document-frequency cut) — dropped blocks cost
    recall, never precision.

    Returns (id_a, id_b, distance) with id_a < id_b."""
    blk = block_expr or f"substring(lower(trim(`{text_col}`)), 1, 4)"
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("__id__"),
        F.col(text_col).alias("__t__"),
        F.expr(blk).alias("__blk__"),
        F.length(text_col).alias("__len__"),
    )
    if max_block_size is not None:
        ok = (
            base.groupBy("__blk__")
            .agg(F.count(F.lit(1)).alias("__n__"))
            .filter(F.col("__n__") <= max_block_size)
            .select("__blk__")
        )
        base = base.join(ok, on="__blk__")
    a = base.select(
        F.col("__blk__"),
        F.col("__id__").alias("id_a"),
        F.col("__t__").alias("__ta__"),
        F.col("__len__").alias("__la__"),
    )
    b = base.select(
        F.col("__blk__"),
        F.col("__id__").alias("id_b"),
        F.col("__t__").alias("__tb__"),
        F.col("__len__").alias("__lb__"),
    )
    d = int(max_distance)
    return (
        a.join(b, on="__blk__")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.abs(F.col("__la__") - F.col("__lb__")) <= d)
        .withColumn(
            "distance",
            F.expr(f"levenshtein(__ta__, __tb__, {d})").cast("bigint"),
        )
        .filter(F.col("distance") >= 0)
        .select("id_a", "id_b", "distance")
    )
