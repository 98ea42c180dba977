"""Byte-pair-encoding tokenizer training and encoding, distributed.

The Sennrich et al. 2016 BPE procedure ("Neural Machine Translation of
Rare Words with Subword Units"): start from characters, repeatedly merge
the most frequent adjacent symbol pair.  The scalable insight is that BPE
trains on the WORD-FREQUENCY table, not the corpus: one shuffle reduces
N tokens to V distinct words with counts, and every merge iteration then
works on the vocab table (V rows, bounded by distinct-word count — at web
scale ~10^8, vs 10^12+ corpus tokens).  Plan shape per iteration:

- adjacent-pair extraction is a narrow per-row transform over each word's
  symbol array, weighted by the word count;
- the pair count is one map-side-combinable groupBy; the top-K is a
  TakeOrderedAndProject (count DESC, then lexicographic — fully
  deterministic), K bounded rows to the driver per ROUND (bounded control
  flow, same posture as pagerank / dedup_clusters);
- per round the driver accepts a PREFIX BATCH of the top-K — pairs that
  are provably order-independent under the sequential greedy (see
  :func:`plan_merge_batch`) — and applies the whole batch to the vocab
  table in ONE Arrow-batched pandas UDF pass (greedy left-to-right per
  merge, the reference semantics), with localCheckpoint truncating
  lineage.  Result is bit-identical to one-merge-per-job training, at a
  fraction of the driver round-trips (job count was the cost: n_merges
  jobs before, ~n_merges/batch now).

Encoding broadcasts the learned merge ranks (n_merges entries — tiny) and
applies them per document in one narrow mapInPandas-style pass, memoizing
per distinct word within each batch.

At 100 TB: train on the word-frequency table of a SAMPLE (the standard
practice — pass a pre-sampled df; merges stabilize long before full-corpus
counts), then encode the full corpus with the broadcast merge table — the
encode pass is embarrassingly parallel.

No reference counterpart: feathub has no tokenizer surface; this module is
beyond-reference capability alongside datapipe/text.py's frequency-vocab
tokenizer (tokenize_to_ids).
"""

from __future__ import annotations

from typing import List, Sequence, Tuple

from pyspark.sql import DataFrame, functions as F

from feathub_spark.common.caching import iterate, register_cache, release
from feathub_spark.common.parallelism import ensure_parallelism

END_OF_WORD = "</w>"

_WORD_SPLIT = r"\s+"


def merge_word(symbols: Sequence[str], left: str, right: str) -> List[str]:
    """Apply ONE merge to a symbol sequence, greedy left-to-right (the
    Sennrich reference semantics: after merging at position i, scanning
    resumes at i+2, so "aaa" under merge (a,a) becomes [aa, a])."""
    out: List[str] = []
    i, n = 0, len(symbols)
    while i < n:
        if i + 1 < n and symbols[i] == left and symbols[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(symbols[i])
            i += 1
    return out


def encode_word(word: str, ranks: dict, end_of_word: str = END_OF_WORD) -> List[str]:
    """Encode one word with a trained merge-rank dict {(l, r): rank}:
    repeatedly apply the LOWEST-rank pair present (exactly the order the
    merges were learned), greedy left-to-right within each application."""
    syms: List[str] = list(word)
    if end_of_word:
        syms.append(end_of_word)
    while len(syms) > 1:
        best_rank, best_pair = None, None
        for pair in zip(syms, syms[1:]):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, pair
        if best_pair is None:
            break
        syms = merge_word(syms, best_pair[0], best_pair[1])
    return syms


def word_frequencies(
    df: DataFrame, text_col: str, lowercase: bool = False
) -> DataFrame:
    """(word, n) over whitespace-split tokens — the table BPE trains on.
    One explode + one map-side-combinable groupBy."""
    w = F.explode(F.split(F.coalesce(F.col(text_col), F.lit("")), _WORD_SPLIT))
    out = (
        ensure_parallelism(df)
        .select(w.alias("word"))
        .filter(F.col("word") != "")
    )
    if lowercase:
        out = out.select(F.lower("word").alias("word"))
    return out.groupBy("word").agg(F.count(F.lit(1)).alias("n"))


def _merge_udf(batch: List[Tuple[str, str]]):
    """pandas_udf applying a BATCH of merges in rank order — a factory so
    the pairs are bound at creation (a loop-scope closure would see
    mutated values if the lazy localCheckpoint ever recomputed after the
    loop advanced).  Per-word sequential application of the batch equals
    table-wide sequential application: merges never interact across words,
    and within a word the loop preserves rank order."""
    pairs = list(batch)

    @F.pandas_udf("array<string>")
    def apply_merges(col):
        def one(s):
            for left, right in pairs:
                s = merge_word(s, left, right)
            return s

        return col.apply(one)

    return apply_merges


def plan_merge_batch(
    rows: Sequence[Tuple[str, str, int]],
    remaining: int,
    min_pair_count: int,
    truncated: bool,
) -> Tuple[List[Tuple[str, str, int]], bool]:
    """Pick the longest PREFIX of ``rows`` (the exact top-K pair counts in
    greedy order: count DESC, then (left, right) ASC) that can be merged in
    one pass while staying bit-identical to one-merge-at-a-time training.
    Returns ``(batch, stop)`` — ``stop`` means the sequential trainer would
    have terminated (best pair under ``min_pair_count``).

    Soundness argument (each accepted pair j would be the sequential
    greedy's argmax at its own step, with its recorded count unchanged):

    - *Prefix only, no skips.*  Every pair ranked before j was merged, so
      nothing above j remains; pairs ranked after j only ever LOSE
      occurrences, so they cannot overtake (equal-count ties sit at their
      topK rank, which respects the greedy (count, left, right) order).
    - *Symbol-disjointness* of j from every earlier accepted i (including
      the created strings s_i = l_i + r_i and s_j): merge i then neither
      destroys nor creates occurrences of pair j, so c_j is exact.
    - *Created/boosted pairs cannot win.*  Merging i only mints
      adjacencies involving s_i: a new (x, s_i) is bounded by the count
      of (x, l_i) at step i and a new (s_i, y) by (r_i, y) — each at most
      the pre-batch count (B_i below) PLUS one earlier merge's minting
      into that pair when its x is an earlier created string colliding
      with an existing symbol (again ≤ B_i; the colliding-pair chain
      cannot recurse because original symbols of accepted pairs are
      checked against every earlier created string).  If s_i itself
      collides with a pre-existing symbol, the boosted pair also keeps
      its old count — P_i below.  Requiring c_j > 2·B_i + P_i strictly
      therefore means no minted or boosted pair reaches c_j before step
      j.  Counts not visible in the collected top-K are bounded by the
      K-th count when the table was truncated (and by 0 when the collect
      returned the whole table).

    The rule is conservative — it may accept a batch of 1 (the status quo
    cost) — but never unsound.  Verified exhaustively against the
    pure-Python sequential reference in tests/test_bpe.py."""
    if not rows:
        return [], True
    trunc = int(rows[-1][2]) if truncated else 0
    if int(rows[0][2]) < min_pair_count:
        return [], True

    batch: List[Tuple[str, str, int]] = []
    used_syms: set = set()  # l_i, r_i, and created s_i of accepted pairs
    max_threshold = 0  # max over accepted i of 2*B_i + P_i
    for l, r, c in rows:
        c = int(c)
        if c < min_pair_count:
            # end the batch — but only an EMPTY round may stop training:
            # after merging this batch, freshly minted pairs can still
            # clear the floor, so the next round must recount and decide
            return batch, not batch
        if len(batch) >= remaining:
            break
        s = l + r
        if batch:
            if l in used_syms or r in used_syms or s in used_syms:
                break
            if c <= max_threshold:
                break
        batch.append((l, r, c))
        used_syms.update((l, r, s))
        # bounds for pairs minted or boosted by THIS merge, visible to
        # all later batch members
        b_i = trunc
        p_i = trunc
        for l2, r2, c2 in rows:
            c2 = int(c2)
            if r2 == l or l2 == r:  # (x, l) feeds (x, s); (r, y) feeds (s, y)
                b_i = max(b_i, c2)
            if l2 == s or r2 == s:  # string collision with existing symbol
                p_i = max(p_i, c2)
        max_threshold = max(max_threshold, 2 * b_i + p_i)
    return batch, False


def _train_local(
    word_counts: List[Tuple[str, int]],
    n_merges: int,
    min_pair_count: int,
    end_of_word: str,
) -> List[Tuple[int, str, str, int]]:
    """Greedy BPE over a collected (word, n) table with INCREMENTAL pair
    statistics (the fast path of Sennrich's subword-nmt: each merge
    re-scans only the words containing the merged pair, not the whole
    vocabulary).  Bit-identical to the job-per-merge distributed loop —
    same counts, same (count DESC, pair ASC) tie-break, same
    min_pair_count stop."""
    from collections import Counter, defaultdict

    words: List[List[str]] = []
    ns: List[int] = []
    for w, n in word_counts:
        syms = list(w)
        if end_of_word:
            syms.append(end_of_word)
        words.append(syms)
        ns.append(int(n))

    stats: Counter = Counter()
    where = defaultdict(set)  # pair -> word ids currently containing it
    for i, syms in enumerate(words):
        n = ns[i]
        for p in zip(syms, syms[1:]):
            stats[p] += n
            where[p].add(i)

    merges: List[Tuple[int, str, str, int]] = []
    for rank in range(int(n_merges)):
        if not stats:
            break
        (left, right), c = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < min_pair_count:
            break
        merges.append((rank, left, right, int(c)))
        for i in sorted(where[(left, right)]):
            old = words[i]
            new = merge_word(old, left, right)
            if new == old:
                continue
            n = ns[i]
            for p in zip(old, old[1:]):
                stats[p] -= n
                if stats[p] <= 0:
                    del stats[p]
                where[p].discard(i)
            for p in zip(new, new[1:]):
                stats[p] += n
                where[p].add(i)
            words[i] = new
    return merges


def bpe_train(
    df: DataFrame,
    text_col: str,
    n_merges: int,
    min_pair_count: int = 2,
    end_of_word: str = END_OF_WORD,
    lowercase: bool = False,
    local_vocab_threshold: int = 131_072,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges from the corpus; returns a DataFrame
    (rank int, left string, right string, pair_count bigint) ordered by
    rank — the merge table :func:`bpe_encode` consumes.

    Ties on pair count break lexicographically on (left, right), so the
    result is fully deterministic and reproducible by the pure-Python
    reference in tests/test_bpe.py.  Stops early when the best remaining
    pair occurs fewer than ``min_pair_count`` times (weighted by word
    frequency).

    When the word-frequency table has at most ``local_vocab_threshold``
    distinct words, the merge loop runs DRIVER-SIDE over the collected
    table (:func:`_train_local`, incremental pair statistics) — the same
    bounded-collect posture as the ANN codebooks: the table is
    vocabulary-sized, not corpus-sized, and one collect replaces
    n_merges Spark jobs of pure scheduling overhead.  Larger
    vocabularies (web-scale corpora reach ~10^8 distinct words) take the
    distributed loop: one pair-count job per round, with
    :func:`plan_merge_batch` folding provably order-independent merges
    into a single pass.  Pass ``local_vocab_threshold=0`` to force the
    distributed path."""
    spark = df.sparkSession
    vocab = word_frequencies(df, text_col, lowercase=lowercase)
    if local_vocab_threshold > 0:
        # bounded probe: threshold+1 rows cap the transfer whatever the
        # corpus size; falls through to the distributed loop when bigger
        head = vocab.limit(int(local_vocab_threshold) + 1).collect()
        if len(head) <= local_vocab_threshold:
            merges = _train_local(
                [(r["word"], r["n"]) for r in head],
                int(n_merges),
                min_pair_count,
                end_of_word,
            )
            return spark.createDataFrame(
                merges, "rank int, left string, right string, pair_count bigint"
            )
    # char-split plus the end-of-word marker as its own symbol
    syms = F.split(F.col("word"), "")
    if end_of_word:
        syms = F.concat(syms, F.array(F.lit(end_of_word)))
    # cache populates on the first iteration's top-1 collect — no separate
    # count() job (at 20+ merges the per-iteration JOB COUNT is the cost)
    cur = register_cache(vocab.select(syms.alias("s"), "n"))
    n_merges = int(n_merges)

    merges: List[Tuple[int, str, str, int]] = []
    batch: List[Tuple[str, str, int]] = []
    pair_expr = (
        "transform(sequence(1, size(s) - 1), "
        "i -> struct(element_at(s, i) AS l, element_at(s, i + 1) AS r))"
    )
    top_k = max(8, min(64, n_merges * 4))

    def _plan_batch(vocab_syms: DataFrame) -> bool:
        """Collect the top pairs (materializing ``vocab_syms``), plan the
        next merge batch and record it; True once training is done."""
        nonlocal batch
        top = (
            vocab_syms.filter(F.size("s") >= 2)
            .select(F.explode(F.expr(pair_expr)).alias("p"), "n")
            .groupBy("p.l", "p.r")
            .agg(F.sum("n").alias("c"))
            .orderBy(F.col("c").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(top_k)
            .collect()
        )
        # the planner always accepts the top-1 when it clears
        # min_pair_count, so an empty batch means training has stopped
        batch = plan_merge_batch(
            [(r["l"], r["r"], int(r["c"])) for r in top],
            remaining=n_merges - len(merges),
            min_pair_count=min_pair_count,
            truncated=len(top) == top_k,
        )[0]
        for left, right, c in batch:
            merges.append((len(merges), left, right, c))
        return not batch or len(merges) >= n_merges

    def _merge_batch(vocab_syms: DataFrame) -> DataFrame:
        merge = _merge_udf([(l, r) for l, r, _ in batch])
        return vocab_syms.select(merge(F.col("s")).alias("s"), "n")

    if n_merges > 0 and not _plan_batch(cur):
        # every round adds a merge, so the loop stops within n_merges rounds
        cur = iterate(
            cur, _merge_batch, n_merges, stop=lambda new, _: _plan_batch(new)
        )
    # the merge table is driver-built and never reads the vocabulary
    release(cur)
    return spark.createDataFrame(
        merges, "rank int, left string, right string, pair_count bigint"
    )


def bpe_encode(
    df: DataFrame,
    text_col: str,
    merges,
    end_of_word: str = END_OF_WORD,
    lowercase: bool = False,
    out_col: str = "tokens",
) -> DataFrame:
    """Tokenize ``text_col`` with a trained merge table (the DataFrame from
    :func:`bpe_train`, or a list of (left, right) in rank order).  Appends
    ``out_col`` (array<string>) and ``n_<out_col>`` (bigint).  The merge
    table is bounded by n_merges, so it broadcasts as a plain closure dict;
    per-batch word memoization makes the common case one dict hit per
    token.  Narrow per-row compute, zero shuffle."""
    if isinstance(merges, DataFrame):
        rows = merges.select("rank", "left", "right").orderBy("rank").collect()
        pairs = [(r["left"], r["right"]) for r in rows]
    else:
        pairs = [(l, r) for l, r in merges]
    ranks = {p: i for i, p in enumerate(pairs)}

    @F.pandas_udf("array<string>")
    def encode(texts):
        memo: dict = {}

        def one(text):
            if text is None:
                return []
            toks: List[str] = []
            for w in text.split():
                if lowercase:
                    w = w.lower()
                enc = memo.get(w)
                if enc is None:
                    enc = encode_word(w, ranks, end_of_word)
                    memo[w] = enc
                toks.extend(enc)
            return toks

        return texts.apply(one)

    out = ensure_parallelism(df).withColumn(out_col, encode(F.col(text_col)))
    return out.withColumn(f"n_{out_col}", F.size(out_col).cast("bigint"))
