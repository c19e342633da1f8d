"""Tokenizer training + sub-document dedup for LLM corpus prep.

Two operator families the reference lacks entirely (north-star additions
alongside SURVEY §2):

- ``bpe_merges``: distributed BPE tokenizer TRAINING. The only
  corpus-scale operation is the word-frequency count (one hash shuffle);
  the merge loop then runs on the compact word-frequency table — the
  standard trainer decomposition (Sennrich et al., "Neural Machine
  Translation of Rare Words with Subword Units"), which is what makes BPE
  tractable at 100 TB: rounds cost O(|vocab|), not O(corpus).
- ``chunk_dedup``: exact sub-document span dedup — the C4 "deduplicate at
  the line level" shape (Raffel et al.), with deterministic 10-token
  chunk framing because the synthetic corpus has no newlines. Chunking is
  a JVM higher-order expression over the token array (no shuffle); the
  only exchange is the keep-first window keyed on the chunk text.

Both are graded EXACTLY: merge tables and keep-counts are strings and
integers, and every iterative step is replayed by the DuckDB oracle with
identical op semantics (see docstrings for the determinism arguments).
"""

from __future__ import annotations

from contextlib import AbstractContextManager

import numpy as np
from pyspark import RDD
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_mm_spark.linalg.block_matrix import array_blocks, map_blocks, place_blocks
from flink_mm_spark.operators.dedup import WORD_REGEX, tokens_expr
from flink_mm_spark.registry import register
from flink_mm_spark.session import keep_latest, release
from flink_mm_spark.sources.tables import parallelize_scan, table

N_MERGES = 6

# One unrolled oracle stage per merge round: count adjacent symbol pairs
# weighted by word frequency, pick the (count DESC, pair ASC) argmax, and
# apply the merge with the SAME padded non-overlapping replace the Spark
# side uses. DuckDB `replace` and Spark `replace` both substitute
# non-overlapping occurrences left to right, so consecutive repeats
# (`a a a` → `aa a`, not `a aa`) merge identically — greedy-left BPE.
_BPE_STAGE = """
, pc{k} AS MATERIALIZED (
  SELECT p, SUM(freq) AS cnt FROM (
    SELECT freq, unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS p
    FROM (SELECT freq, string_split(seq, ' ') AS l FROM w{prev})
  ) GROUP BY p
),
best{k} AS MATERIALIZED (SELECT p, cnt FROM pc{k} ORDER BY cnt DESC, p ASC LIMIT 1),
w{k} AS MATERIALIZED (
  -- COALESCE: when the pair space is exhausted best{k} is EMPTY, the
  -- scalar subquery goes NULL, and replace(.., NULL, ..) would NULL every
  -- seq — poisoning downstream ENCODE stages that read w{k} (the merges
  -- SELECT arm is already guarded by `WHERE pair_freq IS NOT NULL`, but
  -- the encode oracles read the final word table directly). Falling back
  -- to the previous seq matches the Spark trainers' early break
  -- (ADVICE r6 #1; landed r8).
  SELECT w, freq,
         COALESCE(
           trim(replace(' ' || seq || ' ',
                        ' ' || (SELECT p FROM best{k}) || ' ',
                        ' ' || replace((SELECT p FROM best{k}), ' ', '') || ' ')),
           seq) AS seq
  FROM w{prev}
)
"""

_BPE_ORACLE = (
    f"""
    WITH words AS MATERIALIZED (
      SELECT w, COUNT(*) AS freq FROM (
        SELECT unnest(regexp_extract_all(lower(trim(text)), '{WORD_REGEX}')) AS w
        FROM documents
      ) GROUP BY w
    ),
    w0 AS (
      SELECT w, freq, array_to_string(regexp_extract_all(w, '.'), ' ') AS seq
      FROM words
    )
    """
    + "".join(_BPE_STAGE.format(k=k, prev=k - 1) for k in range(1, N_MERGES + 1))
    + """
    SELECT * FROM ("""
    + " UNION ALL ".join(
        f"""
      SELECT {k} AS round,
             split_part((SELECT p FROM best{k}), ' ', 1) AS left_sym,
             split_part((SELECT p FROM best{k}), ' ', 2) AS right_sym,
             replace((SELECT p FROM best{k}), ' ', '') AS merged,
             CAST((SELECT cnt FROM best{k}) AS BIGINT) AS pair_freq"""
        for k in range(1, N_MERGES + 1)
    )
    # early exhaustion parity with the trainers' break (see _WP_ORACLE)
    + ") WHERE pair_freq IS NOT NULL ORDER BY round"
)


# Batched-trainer knobs (r5 scale hardening — VERDICT r4 ask #3):
BPE_TOPK = 1024  # pair rows collected per driver round (tiny strings)
BPE_MAX_BATCH = 256  # merges committed per round (bounds per-round plan width)
BPE_CHECKPOINT_EVERY = 8  # rounds between lineage truncations
# Vocabularies at or below this many distinct words train DRIVER-LOCAL with
# the incremental-heap trainer (the SentencePiece/HF-tokenizers decomposition:
# corpus-scale work = ONE distributed word-count shuffle; vocab-scale work =
# O(merges·log) local updates). Even a 100 TB web corpus has O(10M) distinct
# regex words (~hundreds of MB collected) — far below executor-OOM scale —
# so this is the production path; the distributed batched-exact loop above it
# exists for vocabularies that genuinely cannot sit on the driver.
BPE_LOCAL_MAX_VOCAB = 4_000_000
# ... but a word COUNT alone does not bound the collect: a corpus with
# pathological "words" (no whitespace, binary spill) can blow the per-word
# string sizes while staying under the count cap (VERDICT r5 ask #6). The
# local tier is chosen only when the total collected characters also fit —
# 256 MiB of raw word text (a few× that with Python object overhead, still
# far under driver heap; real web corpora are ~100 MB at 10M words).
BPE_LOCAL_MAX_CHARS = 256 * 1024 * 1024


def _apply_merge_word(
    syms: list[str], left: str, right: str, merged: str | None = None
) -> list[str]:
    """Apply one merge to a word's symbol list with EXACTLY the padded
    string-``replace`` semantics the Spark expressions and the DuckDB
    oracle share: occurrences are consumed left-to-right, and a match
    consumes the separator AFTER its right symbol, so the NEXT possible
    match starts two symbols later — ``a b a b`` → ``ab a b`` (not
    ``ab ab``), ``a a a`` → ``aa a``. ``merged`` defaults to plain BPE
    concatenation; WordPiece passes its ##-stripped form."""
    if merged is None:
        merged = left + right
    out: list[str] = []
    i, n = 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == left and syms[i + 1] == right:
            out.append(merged)
            if i + 2 < n:
                out.append(syms[i + 2])
            i += 3
        else:
            out.append(syms[i])
            i += 1
    return out


def _train_merges_local(items: list[tuple], n_merges: int) -> list[tuple]:
    """Driver-local BPE training over a collected (word, freq) table with
    incremental pair-count maintenance: a lazy max-heap keyed on
    (-count, "left right") yields the (cnt DESC, pair ASC) argmax in
    O(log) amortized, and each merge touches only the words that contain
    its pair (tracked in an inverted index), recomputing just their pair
    multisets. Identical output to the sequential one-merge-per-round
    replay (and therefore to the DuckDB oracle) — the merge application is
    ``_apply_merge_word``'s padded-replace semantics. 30k merges run in
    seconds instead of 30k distributed rounds."""
    import heapq

    words = [list(w) for w, _ in items]
    freqs = [int(f) for _, f in items]
    counts: dict[tuple, int] = {}
    index: dict[tuple, set[int]] = {}
    for wi, syms in enumerate(words):
        f = freqs[wi]
        for q in zip(syms, syms[1:]):
            counts[q] = counts.get(q, 0) + f
            index.setdefault(q, set()).add(wi)
    heap = [(-c, p[0] + " " + p[1], p) for p, c in counts.items()]
    heapq.heapify(heap)
    out: list[tuple] = []
    while len(out) < n_merges and heap:
        nc, _, p = heapq.heappop(heap)
        c = counts.get(p, 0)
        if c <= 0 or -nc != c:
            continue  # stale heap entry (count changed since push)
        left, right = p
        merged = left + right
        out.append((len(out) + 1, left, right, merged, c))
        changed: dict[tuple, int] = {}
        for wi in list(index.get(p, ())):
            syms = words[wi]
            new = _apply_merge_word(syms, left, right)
            if new == syms:
                continue  # stale index entry (pair no longer adjacent here)
            f = freqs[wi]
            old_pairs: dict[tuple, int] = {}
            for q in zip(syms, syms[1:]):
                old_pairs[q] = old_pairs.get(q, 0) + 1
            new_pairs: dict[tuple, int] = {}
            for q in zip(new, new[1:]):
                new_pairs[q] = new_pairs.get(q, 0) + 1
            for q, k in old_pairs.items():
                d = new_pairs.get(q, 0) - k
                if d:
                    changed[q] = changed.get(q, 0) + d * f
            for q, k in new_pairs.items():
                if q not in old_pairs:
                    changed[q] = changed.get(q, 0) + k * f
                    index.setdefault(q, set()).add(wi)
            words[wi] = new
        for q, d in changed.items():
            nv = counts.get(q, 0) + d
            counts[q] = nv
            if nv > 0:
                heapq.heappush(heap, (-nv, q[0] + " " + q[1], q))
    return out


def _disjoint_prefix(rows: list, cap: int) -> list[tuple[str, int, str, str, str]]:
    """Longest symbol-disjoint PREFIX of the (cnt DESC, pair ASC)-sorted
    pair list: stop (never skip) at the first candidate sharing a symbol —
    including a would-be merged string — with an earlier one, because its
    sequential-round count would no longer be the batch-start count."""
    used: set[str] = set()
    prov: list[tuple[str, int, str, str, str]] = []
    for r in rows:
        pair, cnt = r["p"], int(r["cnt"])
        left, right = pair.split(" ")
        merged = left + right
        if prov and (left in used or right in used or merged in used):
            break
        prov.append((pair, cnt, left, right, merged))
        used.update((left, right, merged))
        if len(prov) >= cap:
            break
    return prov


def _batch_bound_stats(
    syms: DataFrame, pairs: DataFrame, prov: list
) -> tuple[dict, dict, dict]:
    """EXACT interference statistics for a provisional batch, computed
    distributed and restricted to the provisional picks (two small jobs):

    - ``tstart[(x y)]`` = max over w of count(triple "x y w") — bounds every
      pair CREATED to the right of a merge of (x, y);
    - ``tend[(u v)]``   = max over z of count(triple "z u v") — bounds every
      pair created to the left;
    - ``coll[m]``       = max count of an EXISTING pair touching the
      would-be merged symbol m (greedy-left replace can leave unmerged
      "x y" runs from earlier rounds, so a merged string may collide with
      a live symbol and its pairs then gain occurrences on top of their
      old counts).

    Exactness is what keeps tail batches long: pair-level adjacency bounds
    (or a top-K truncation floor) are of the same magnitude as the
    candidate counts in the flat Zipf tail and would stop every batch at
    one merge, while true TRIPLE counts out there are near zero.
    """
    pick_keys = [p[0] for p in prov]
    merged_syms = [p[4] for p in prov]
    trip = (
        syms.filter(F.size("l") >= 3)
        .select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(l) - 3),"
                    " i -> concat_ws(' ', l[i], l[i+1], l[i+2]))"
                )
            ).alias("t"),
        )
        .groupBy("t")
        .agg(F.sum("freq").alias("cnt"))
        .select(F.split("t", " ").alias("s"), "cnt")
        .select(
            F.concat_ws(" ", F.col("s")[0], F.col("s")[1]).alias("k1"),
            F.concat_ws(" ", F.col("s")[1], F.col("s")[2]).alias("k2"),
            "cnt",
        )
    )
    stats = (
        trip.filter(F.col("k1").isin(pick_keys) | F.col("k2").isin(pick_keys))
        .select(
            F.when(F.col("k1").isin(pick_keys), F.col("k1")).alias("k1"),
            F.when(F.col("k2").isin(pick_keys), F.col("k2")).alias("k2"),
            "cnt",
        )
        .collect()
    )
    tstart: dict[str, int] = {}
    tend: dict[str, int] = {}
    for r in stats:
        if r["k1"] is not None:
            tstart[r["k1"]] = max(tstart.get(r["k1"], 0), int(r["cnt"]))
        if r["k2"] is not None:
            tend[r["k2"]] = max(tend.get(r["k2"], 0), int(r["cnt"]))
    lr = pairs.select(F.split("p", " ").alias("s"), "freq")
    coll_rows = (
        lr.filter(F.col("s")[0].isin(merged_syms) | F.col("s")[1].isin(merged_syms))
        .groupBy("s")
        .agg(F.sum("freq").alias("cnt"))
        .collect()
    )
    coll: dict[str, int] = {}
    mset = set(merged_syms)
    for r in coll_rows:
        for sym in r["s"]:
            if sym in mset:
                coll[sym] = max(coll.get(sym, 0), int(r["cnt"]))
    return tstart, tend, coll


def _select_merge_batch(
    prov: list, tstart: dict, tend: dict, coll: dict
) -> list[tuple[str, int]]:
    """Cut the provisional symbol-disjoint prefix down to the picks that
    provably equal the next picks of the sequential one-merge-per-round
    trainer.

    Soundness (why prefix pick p_{i+1} is exactly the sequential
    round-(i+1) argmax): picks are a global sorted prefix, so every
    unpicked OLD pair ranks below p_{i+1} at batch start, and merging
    earlier picks never raises the count of a pair sharing no symbol with
    them. The only threat is a pair CREATED or BOOSTED inside the batch.
    Any such pair (A, B) decomposes its occurrences over at most two picks
    (one forming each side — batch merges are symbol-disjoint, so no side
    composes two): pre·pre = the old collision count ≤ max coll[m] over
    picks; pre·merged ≤ tend[p_k]; merged·pre ≤ tstart[p_j]; merged·merged
    ≤ the quad count ≤ tstart[p_j]. Hence every batch-born pair is
    ≤ C + E + 2·S with C/E/S the running maxima of coll/tend/tstart over
    picks so far, and a candidate with cnt STRICTLY above that bound
    cannot be outranked (a tie stops the batch — the tie-break string of a
    not-yet-materialized pair is unknowable). The bound is conservative,
    so the batch is always a correct prefix, merely sometimes shorter than
    optimal; the trainer stays EXACT while amortizing one driver
    round-trip over up to ``BPE_MAX_BATCH`` merges.
    """
    batch: list[tuple[str, int]] = []
    s_max = e_max = c_max = 0
    for pair, cnt, _left, _right, merged in prov:
        if batch and cnt <= c_max + e_max + 2 * s_max:
            break
        batch.append((pair, cnt))
        s_max = max(s_max, tstart.get(pair, 0))
        e_max = max(e_max, tend.get(pair, 0))
        c_max = max(c_max, coll.get(merged, 0))
    return batch


def _train_merges_from_words(
    words: DataFrame, n_merges: int = N_MERGES, sym_regex: str = "."
) -> list[tuple]:
    """BPE merge training over a (w, freq) word table — the vocab-scale
    half of the trainer (the corpus was already reduced to this table by
    ONE distributed word-count shuffle).

    r5 scale hardening (VERDICT r4 ask #3), two tiers:

    - vocab ≤ ``BPE_LOCAL_MAX_VOCAB`` distinct words AND ≤
      ``BPE_LOCAL_MAX_CHARS`` total word characters (every realistic
      corpus, including 100 TB web text): collect the table and train
      DRIVER-LOCAL with the incremental-heap trainer
      (``_train_merges_local``) — 30k merges in seconds, zero per-merge
      distributed rounds. Merge selection at the Zipf head is inherently
      sequential (top pairs share symbols), so no distributed scheme can
      amortize it; moving vocab-scale work to the driver is the standard
      trainer decomposition (Sennrich et al.; SentencePiece / HF
      tokenizers do the same).
    - larger vocabularies: the distributed BATCHED-EXACT loop — each
      driver round-trip collects the top-``BPE_TOPK`` pair counts and
      commits the longest provably-sequential-equal batch of merges
      (``_select_merge_batch``), applied as ONE chained-replace
      projection; every ``BPE_CHECKPOINT_EVERY`` rounds the symbol table
      is ``localCheckpoint``-ed so plan depth stays bounded regardless of
      merge count.

    Both tiers produce the identical merge table (tests/test_bpe_trainer.py
    proves them equal to the sequential replay and to each other).

    ``sym_regex`` sets the INITIAL symbol segmentation of a word: "." =
    one symbol per character (classic BPE), ".." = one symbol per hex
    octet pair (the byte-level tier, where ``w`` is the uppercase hex of
    the word's UTF-8 bytes — ``bpe_bytes_encode``). Identical under
    Python re and Java regex for these patterns; symbols never contain
    spaces, so the padded-replace machinery is unchanged.
    """
    import re as _re

    # one aggregate decides the tier: the count cap bounds rows, the char
    # cap bounds collected bytes (pathological no-whitespace corpora can
    # blow word sizes without blowing the count — VERDICT r5 ask #6)
    bound = words.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.length("w")), F.lit(0)).alias("chars"),
    ).collect()[0]
    if bound["n"] <= BPE_LOCAL_MAX_VOCAB and bound["chars"] <= BPE_LOCAL_MAX_CHARS:
        items = [
            (_re.findall(sym_regex, r["w"]), int(r["freq"])) for r in words.collect()
        ]
        return _train_merges_local(items, n_merges)
    seqs = words.select(
        "w",
        "freq",
        F.array_join(F.regexp_extract_all("w", F.lit(sym_regex), 0), " ").alias("seq"),
    )
    out: list[tuple] = []
    rounds_since_ckpt = 0
    ckpt = None  # the live seqs checkpoint: released when superseded and on exit
    try:
        while len(out) < n_merges:
            syms = seqs.select("freq", F.split("seq", " ").alias("l"))
            pairs = syms.select(
                "freq",
                F.explode(
                    F.zip_with(
                        F.slice("l", 1, F.size("l") - 1),
                        F.slice("l", 2, F.size("l") - 1),
                        lambda x, y: F.concat(x, F.lit(" "), y),
                    )
                ).alias("p"),
            )
            rows = (
                pairs.groupBy("p")
                .agg(F.sum("freq").alias("cnt"))
                .orderBy(F.col("cnt").desc(), F.col("p").asc())
                .limit(BPE_TOPK)
                .collect()
            )
            if not rows:
                break
            prov = _disjoint_prefix(rows, cap=min(BPE_MAX_BATCH, n_merges - len(out)))
            if len(prov) > 1:
                tstart, tend, coll = _batch_bound_stats(syms, pairs, prov)
                batch = _select_merge_batch(prov, tstart, tend, coll)
            else:
                batch = [(prov[0][0], prov[0][1])]
            padded = F.concat(F.lit(" "), F.col("seq"), F.lit(" "))
            for pair, cnt in batch:
                left, right = pair.split(" ")
                merged = left + right
                out.append((len(out) + 1, left, right, merged, cnt))
                # symbol-disjoint within the batch, so chained padded replaces
                # commute and equal the sequential per-round replace
                padded = F.replace(
                    padded, F.lit(f" {pair} "), F.lit(f" {merged} ")
                )
            seqs = seqs.select("w", "freq", F.trim(padded).alias("seq"))
            rounds_since_ckpt += 1
            if rounds_since_ckpt >= BPE_CHECKPOINT_EVERY:
                seqs = seqs.localCheckpoint(eager=True)
                release(ckpt)
                ckpt = seqs
                rounds_since_ckpt = 0
    finally:
        release(ckpt)
    return out


def _train_merges(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """Run the distributed BPE training loop over the documents corpus and
    return the merge table rows ``(round, left, right, merged,
    pair_freq)``. Shared by ``bpe_merges`` (returns the table) and
    ``bpe_encode`` (applies the merges). See ``bpe_merges`` for the scale
    argument."""
    docs = parallelize_scan(table(spark, sf_dir, "documents"))
    words = (
        docs.select(F.explode(F.regexp_extract_all("text", F.lit(WORD_REGEX), 0)).alias("w0"))
        .select(F.lower(F.trim(F.col("w0"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .persist()
    )
    # NOTE: tokens come from regexp_extract_all(lower(trim(text))) in the
    # oracle; lower(trim) of each extracted word is identical because the
    # regex classes are case-insensitive-safe here ([a-zA-Z]) and tokens
    # contain no surrounding whitespace.
    try:
        return _train_merges_from_words(words, N_MERGES)
    finally:
        words.unpersist()


@register("bpe_merges", oracle=_BPE_ORACLE)
def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training: the first ``N_MERGES`` merge
    rounds over the documents corpus, graded EXACTLY.

    Shape (the part that matters at 100 TB): the corpus is touched ONCE —
    an explode + hash-shuffle word count. Every merge round then runs on
    the word-frequency table (O(|vocab|) rows, distributed) and collects
    exactly one row (the argmax pair) to the driver, which owns the merge
    table — the reference's I3 outer-driver-loop shape applied to
    tokenizer training. Pair counts are exact integers (frequency-weighted
    sums), the argmax tie-breaks (count DESC, pair ASC) in both engines,
    and the merge applies via the same padded left-to-right
    non-overlapping ``replace`` — so the merge TABLE, not just counts,
    hash-matches the oracle's 6-stage replay.
    """
    out = _train_merges(spark, sf_dir)
    return spark.createDataFrame(
        out, "round int, left_sym string, right_sym string, merged string, pair_freq bigint"
    )


_BPE_ENCODE_ORACLE = (
    _BPE_ORACLE.split("SELECT * FROM (")[0]
    + f"""
    , enc AS (SELECT w, len(string_split(seq, ' ')) AS n_sub FROM w{N_MERGES}),
    dw AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(trim(text)), '{WORD_REGEX}')) AS w
      FROM documents
    )
    SELECT dw.doc_id,
           CAST(COUNT(*) AS INTEGER) AS n_words,
           CAST(SUM(e.n_sub) AS BIGINT) AS n_bpe_tokens,
           ROUND(CAST(SUM(e.n_sub) AS DOUBLE) / COUNT(*), 6) AS bpe_per_word
    FROM dw JOIN enc e USING (w)
    GROUP BY dw.doc_id
    ORDER BY dw.doc_id
    """
)


@register("bpe_encode", oracle=_BPE_ENCODE_ORACLE)
def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLY: encode every document with the merges trained
    by ``bpe_merges`` and report per-document subword counts.

    The deploy-side half of the tokenizer lifecycle (train → encode →
    ``pack_sequences``). Encoding replays the trained merge list in order
    on each word's character sequence — for replace-based greedy-left BPE
    this reproduces the training segmentation exactly, so the oracle can
    read the segmentation straight off its own stage-``N_MERGES`` word
    table.

    Scale shape: the corpus is never encoded word-by-word in Python — the
    DISTINCT word table (vocab-sized) is encoded once with a chain of
    ``N_MERGES`` JVM ``replace`` expressions (merges are literals by the
    time the plan is built), and the encoded vocab broadcast-joins back
    onto the exploded word stream; per-doc rollups are integer sums. At
    100 TB: train once (one corpus shuffle — see ``bpe_merges``), encode
    via a vocab-sized broadcast, never a per-row Python tokenizer.
    """
    return _bpe_doc_counts(spark, sf_dir).orderBy("doc_id")


# Encoded-vocab tables at or below this many distinct words broadcast-join
# back onto the exploded word stream; above it the join falls back to a
# plain hash-shuffle equi-join. Aligned with BPE_LOCAL_MAX_VOCAB: a real web
# corpus has O(10M) distinct regex words (hundreds of MB — broadcastable),
# but a pathological corpus (no whitespace, binary spill) can blow the
# distinct-word table past executor/driver memory, and an unconditional
# F.broadcast would OOM the driver building the broadcast relation
# (VERDICT r7 What's-wrong #2: documented in r7, implemented here).
ENCODE_BROADCAST_MAX_WORDS = 4_000_000


def _encoded_words_join(dw: DataFrame, enc: DataFrame) -> DataFrame:
    """Join the exploded ``(doc_id, w)`` word stream back onto the encoded
    DISTINCT-word table ``enc`` — the shared deploy-side join of all three
    tokenizer encode paths (BPE / WordPiece / unigram).

    ``enc`` is persisted (the count action below materializes it once; the
    returned lazy join reuses the cached blocks) and counted: vocab-sized
    tables broadcast, over-sized ones hash-shuffle on ``w`` instead. Plan
    shapes for both tiers are pinned in
    tests/test_plans.py::test_encoded_words_join_broadcast_guard.
    """
    enc = keep_latest("bpe_enc", enc)
    if enc.count() <= ENCODE_BROADCAST_MAX_WORDS:
        return dw.join(F.broadcast(enc), "w")
    return dw.join(enc, "w")


def _bpe_doc_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``bpe_encode``'s body WITHOUT the presentation sort — consumed
    directly (unsorted) by ``tokenize_pack_pipeline``, whose very next
    step is a range repartition that would destroy the order anyway (a
    wasted full-corpus sort, caught by
    tests/test_plans.py::test_tokenize_pack_pipeline_single_range_exchange)."""
    merges = _train_merges(spark, sf_dir)
    docs = parallelize_scan(table(spark, sf_dir, "documents"))
    dw = docs.select(
        "doc_id",
        F.explode(F.regexp_extract_all("text", F.lit(WORD_REGEX), 0)).alias("w0"),
    ).select("doc_id", F.lower(F.trim(F.col("w0"))).alias("w"))
    seq = F.array_join(F.regexp_extract_all("w", F.lit("."), 0), " ")
    for _, left, right, merged, _cnt in merges:
        seq = F.trim(
            F.replace(
                F.concat(F.lit(" "), seq, F.lit(" ")),
                F.lit(f" {left} {right} "),
                F.lit(f" {merged} "),
            )
        )
    enc = dw.select("w").distinct().select("w", F.size(F.split(seq, " ")).alias("n_sub"))
    return (
        _encoded_words_join(dw, enc)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_words"),
            F.sum("n_sub").cast("bigint").alias("n_bpe_tokens"),
            F.round(F.sum("n_sub").cast("double") / F.count("*"), 6).alias(
                "bpe_per_word"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Byte-level BPE (the GPT-2-style production symbol space, r9)
# ---------------------------------------------------------------------------

BYTES_N_MERGES = 6

# Holdout APPLY stage: replay merge k (the TRAINING chain's best{k}) on the
# held-out word table h{prev} -> h{k} with the same padded non-overlapping
# replace and the same COALESCE exhaustion guard as _BPE_STAGE — encoding an
# unseen word IS applying the trained merges in training order.
_BPE_APPLY_STAGE = """
, h{k} AS MATERIALIZED (
  SELECT w,
         COALESCE(
           trim(replace(' ' || seq || ' ',
                        ' ' || (SELECT p FROM best{k}) || ' ',
                        ' ' || replace((SELECT p FROM best{k}), ' ', '') || ' ')),
           seq) AS seq
  FROM h{prev}
)
"""

# Training chain over byte symbols: words are the UPPERCASE HEX of each raw
# (case-preserved) word's UTF-8 bytes, and the initial segmentation is one
# symbol per octet pair — regexp '..' instead of '.'. The _BPE_STAGE merge
# machinery is reused verbatim (symbols never contain spaces). The prefix is
# shared by the merges oracle and the held-out encode oracle.
_BPE_BYTES_TRAIN = (
    f"""
    WITH words AS MATERIALIZED (
      SELECT w, COUNT(*) AS freq FROM (
        SELECT hex(encode(w0)) AS w FROM (
          SELECT unnest(regexp_extract_all(text, '{WORD_REGEX}')) AS w0
          FROM documents
        )
      ) GROUP BY w
    ),
    w0 AS (
      SELECT w, freq, array_to_string(regexp_extract_all(w, '..'), ' ') AS seq
      FROM words
    )
    """
    + "".join(_BPE_STAGE.format(k=k, prev=k - 1) for k in range(1, BYTES_N_MERGES + 1))
)

_BPE_BYTES_MERGES_ORACLE = (
    _BPE_BYTES_TRAIN
    + """
    SELECT * FROM ("""
    + " UNION ALL ".join(
        f"""
      SELECT {k} AS round,
             split_part((SELECT p FROM best{k}), ' ', 1) AS left_sym,
             split_part((SELECT p FROM best{k}), ' ', 2) AS right_sym,
             replace((SELECT p FROM best{k}), ' ', '') AS merged,
             CAST((SELECT cnt FROM best{k}) AS BIGINT) AS pair_freq"""
        for k in range(1, BYTES_N_MERGES + 1)
    )
    + ") WHERE pair_freq IS NOT NULL ORDER BY round"
)

_BPE_BYTES_ORACLE = (
    _BPE_BYTES_TRAIN
    + f"""
    , pw AS MATERIALIZED (
      SELECT part_id, hex(encode(w0)) AS w FROM (
        SELECT p_partkey AS part_id,
               unnest(regexp_extract_all(p_name, '{WORD_REGEX}')) AS w0
        FROM part
      )
    ),
    h0 AS (
      SELECT DISTINCT w, array_to_string(regexp_extract_all(w, '..'), ' ') AS seq
      FROM pw
    )
    """
    + "".join(
        _BPE_APPLY_STAGE.format(k=k, prev=k - 1) for k in range(1, BYTES_N_MERGES + 1)
    )
    + f"""
    , enc AS (SELECT w, len(string_split(seq, ' ')) AS n_sub FROM h{BYTES_N_MERGES})
    SELECT pw.part_id,
           CAST(COUNT(*) AS INTEGER) AS n_words,
           CAST(SUM(len(pw.w) // 2) AS BIGINT) AS n_bytes,
           CAST(SUM(e.n_sub) AS BIGINT) AS n_byte_tokens,
           ROUND(CAST(SUM(len(pw.w) // 2) AS DOUBLE) / SUM(e.n_sub), 6)
             AS bytes_per_token
    FROM pw JOIN enc e USING (w)
    GROUP BY pw.part_id
    ORDER BY pw.part_id
    """
)


def _hex_word(col: str) -> "F.Column":
    """Uppercase hex of a word's UTF-8 bytes — identical in Spark
    (hex(encode(..))) and DuckDB (hex(encode(..)))."""
    return F.hex(F.encode(F.col(col), "UTF-8"))


def _train_bytes_merges(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """Train the byte-level merge table over the documents corpus (raw
    case-preserved words → hex-octet symbols) — shared by
    ``bpe_bytes_merges`` (returns the table) and ``bpe_bytes_encode``
    (applies it held-out)."""
    docs = parallelize_scan(table(spark, sf_dir, "documents"))
    words = (
        docs.select(
            F.explode(F.regexp_extract_all("text", F.lit(WORD_REGEX), 0)).alias("w0")
        )
        .select(_hex_word("w0").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .persist()
    )
    try:
        return _train_merges_from_words(words, BYTES_N_MERGES, sym_regex="..")
    finally:
        words.unpersist()


@register("bpe_bytes_merges", oracle=_BPE_BYTES_MERGES_ORACLE)
def bpe_bytes_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The byte-level BPE merge TABLE itself, graded exactly — the byte
    analogue of ``bpe_merges``: symbols are uppercase hex octet pairs of
    the raw (case-preserved) word bytes, so left/right/merged symbols and
    the frequency-weighted argmax replay bit-for-bit through the shared
    ``_BPE_STAGE`` oracle machinery on the '..'-pair initial segmentation.
    Scale shape identical to ``bpe_merges``: one corpus word-count
    shuffle, then vocab-scale training (driver-local incremental heap at
    any collectable vocabulary, batched-exact distributed loop above)."""
    out = _train_bytes_merges(spark, sf_dir)
    return spark.createDataFrame(
        out,
        "round int, left_sym string, right_sym string, merged string, pair_freq bigint",
    )


@register("bpe_bytes_encode", oracle=_BPE_BYTES_ORACLE)
def bpe_bytes_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-LEVEL BPE, trained on ``documents`` and applied HELD-OUT to the
    ``part`` names (VERDICT r8 ask #3) — the production GPT-style symbol
    space: words pretokenize from RAW text (case-preserved — byte-level
    tokenizers do not normalize), each word becomes its UTF-8 byte
    sequence, and merges operate on byte symbols. Byte fallback makes UNK
    STRUCTURALLY IMPOSSIBLE: an out-of-vocabulary word — 'x'/'z' part-name
    words defeat the char-level corpus vocab today — simply keeps its
    unmerged octets (asserted in tests/test_bpe_trainer.py), where
    ``wordpiece_encode_holdout`` collapses the same words to [UNK].

    Implementation reuses the whole BPE machinery unchanged: bytes are
    carried as uppercase hex pairs (one symbol per octet — Spark ``hex(
    encode(w))`` ≡ DuckDB ``hex(encode(w))`` byte-for-byte), so training is
    ``_train_merges_from_words`` with the ".."-pair initial segmentation,
    encoding is the same chained padded-replace projection, and the oracle
    replays training AND the held-out application per merge stage with the
    shared exhaustion guard.

    Scale shape (``bpe_encode``'s, unchanged by the symbol space): one
    corpus word-count shuffle to train; the DISTINCT holdout word table
    encodes via N_MERGES JVM replaces; per-word counts rejoin the exploded
    word stream through the guarded vocab broadcast
    (``_encoded_words_join``); per-part rollups are integer sums — bytes
    per word derive from hex length, never a second pass over the text.
    """
    merges = _train_bytes_merges(spark, sf_dir)
    pw = (
        table(spark, sf_dir, "part")
        .select(
            F.col("p_partkey").alias("part_id"),
            F.explode(F.regexp_extract_all("p_name", F.lit(WORD_REGEX), 0)).alias("w0"),
        )
        .select("part_id", _hex_word("w0").alias("w"))
    )
    seq = F.array_join(F.regexp_extract_all("w", F.lit(".."), 0), " ")
    for _, left, right, merged, _cnt in merges:
        seq = F.trim(
            F.replace(
                F.concat(F.lit(" "), seq, F.lit(" ")),
                F.lit(f" {left} {right} "),
                F.lit(f" {merged} "),
            )
        )
    enc = pw.select("w").distinct().select("w", F.size(F.split(seq, " ")).alias("n_sub"))
    return (
        _encoded_words_join(pw, enc)
        .groupBy("part_id")
        .agg(
            F.count("*").cast("int").alias("n_words"),
            F.sum(F.expr("length(w) div 2")).cast("bigint").alias("n_bytes"),
            F.sum("n_sub").cast("bigint").alias("n_byte_tokens"),
            F.round(
                F.sum(F.expr("length(w) div 2")).cast("double") / F.sum("n_sub"), 6
            ).alias("bytes_per_token"),
        )
        .orderBy("part_id")
    )


# ---------------------------------------------------------------------------
# WordPiece trainer (Schuster & Nakajima 2012 — the BERT tokenizer)
# ---------------------------------------------------------------------------

WP_N_MERGES = 6
WP_CONT = "##"  # continuation prefix for non-word-initial symbols

# One unrolled oracle stage per merge round. WordPiece differs from BPE in
# exactly two places, both replayed here: (1) the symbol space carries the
# ## continuation prefix (word-initial char bare, the rest ##-prefixed;
# a merged symbol keeps the LEFT side's prefix and strips the right's), and
# (2) the argmax is by LIKELIHOOD score c(l,r) / (f(l)·f(r)) instead of raw
# count. The score is a ratio of exact integers, so the argmax is decided
# by HUGEINT cross-multiplication — c_p·f_l(q)·f_r(q) vs c_q·f_l(p)·f_r(p)
# — never a float division; ties break on the pair string ascending, the
# same byte-wise ASCII comparison in both engines.
#
# Overflow bound for the three-factor HUGEINT product (ADVICE r6 #2): each
# factor is at most S, the corpus total symbol count, so the product is
# ≤ S³ and INT128 (max ≈ 1.7e38) is exact while S ≤ ~5.5e12 symbols —
# about 5 TB of single-byte symbols. Grading corpora are ~1e5 symbols
# (54 orders of magnitude of headroom); a true 100 TB corpus trains via
# the Spark trainers (Python bigints in `_wp_better`, no overflow), where
# the oracle is never evaluated — the bound is an oracle-availability
# ceiling, not an engine limit.
_WP_STAGE = """
, pc{k} AS MATERIALIZED (
  SELECT p, SUM(freq) AS cnt FROM (
    SELECT freq, unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS p
    FROM (SELECT freq, string_split(seq, ' ') AS l FROM w{prev})
  ) GROUP BY p
),
sc{k} AS MATERIALIZED (
  SELECT s, SUM(freq) AS cnt FROM (
    SELECT freq, unnest(string_split(seq, ' ')) AS s FROM w{prev}
  ) GROUP BY s
),
scored{k} AS MATERIALIZED (
  SELECT p.p, p.cnt, l.cnt AS lf, r.cnt AS rf
  FROM pc{k} p
  JOIN sc{k} l ON l.s = split_part(p.p, ' ', 1)
  JOIN sc{k} r ON r.s = split_part(p.p, ' ', 2)
),
best{k} AS MATERIALIZED (
  SELECT * FROM scored{k} p
  WHERE NOT EXISTS (
    SELECT 1 FROM scored{k} q
    WHERE CAST(q.cnt AS HUGEINT) * p.lf * p.rf > CAST(p.cnt AS HUGEINT) * q.lf * q.rf
       OR (CAST(q.cnt AS HUGEINT) * p.lf * p.rf = CAST(p.cnt AS HUGEINT) * q.lf * q.rf
           AND q.p < p.p)
  )
),
w{k} AS MATERIALIZED (
  -- COALESCE: exhausted stage (empty best{k}) must keep the previous seq
  -- instead of NULLing it — the encode oracles read the final word table
  -- (see _BPE_STAGE's identical guard; ADVICE r6 #1, landed r8)
  SELECT w, freq,
         COALESCE(
           trim(replace(' ' || seq || ' ',
                        ' ' || (SELECT p FROM best{k}) || ' ',
                        ' ' || split_part((SELECT p FROM best{k}), ' ', 1)
                            || regexp_replace(split_part((SELECT p FROM best{k}), ' ', 2), '^##', '')
                            || ' ')),
           seq) AS seq
  FROM w{prev}
)
"""

_WP_ORACLE = (
    f"""
    WITH words AS MATERIALIZED (
      SELECT w, COUNT(*) AS freq FROM (
        SELECT unnest(regexp_extract_all(lower(trim(text)), '{WORD_REGEX}')) AS w
        FROM documents
      ) GROUP BY w
    ),
    w0 AS (
      SELECT w, freq,
             array_to_string(
               list_transform(regexp_extract_all(w, '.'),
                              (c, i) -> CASE WHEN i = 1 THEN c ELSE '##' || c END),
               ' ') AS seq
      FROM words
    )
    """
    + "".join(_WP_STAGE.format(k=k, prev=k - 1) for k in range(1, WP_N_MERGES + 1))
    + """
    SELECT * FROM ("""
    + " UNION ALL ".join(
        f"""
      SELECT {k} AS round,
             split_part((SELECT p FROM best{k}), ' ', 1) AS left_sym,
             split_part((SELECT p FROM best{k}), ' ', 2) AS right_sym,
             split_part((SELECT p FROM best{k}), ' ', 1)
               || regexp_replace(split_part((SELECT p FROM best{k}), ' ', 2), '^##', '') AS merged,
             CAST((SELECT cnt FROM best{k}) AS BIGINT) AS pair_freq,
             CAST((SELECT lf FROM best{k}) AS BIGINT) AS left_freq,
             CAST((SELECT rf FROM best{k}) AS BIGINT) AS right_freq"""
        for k in range(1, WP_N_MERGES + 1)
    )
    # early pair-space exhaustion (fully-merged or single-char vocab): a
    # stage with no pairs yields an empty best{k} → NULL-filled arm; the
    # Spark trainers BREAK there, so drop those rows to keep row-count
    # parity on degenerate corpora. Guard on the COUNT column: DuckDB's
    # split_part(NULL, ...) returns '' (not NULL), so left_sym cannot
    # carry the signal.
    + ") WHERE pair_freq IS NOT NULL ORDER BY round"
)


def _wp_syms(word: str) -> list[str]:
    """WordPiece initial symbol sequence: word-initial character bare,
    every continuation character ##-prefixed."""
    return [c if i == 0 else WP_CONT + c for i, c in enumerate(word)]


def _wp_merged(left: str, right: str) -> str:
    """Merged WordPiece symbol: keeps the left side's prefix, strips the
    right side's continuation marker."""
    return left + (right[len(WP_CONT):] if right.startswith(WP_CONT) else right)


def _wp_better(
    cand: tuple[int, int, int, str], best: tuple[int, int, int, str]
) -> bool:
    """Exact WordPiece argmax comparison: cand (c, lf, rf, pair) beats best
    iff c/(lf·rf) is strictly greater — decided by integer
    cross-multiplication (Python bigints; never a float) — or the scores
    tie and cand's pair string sorts first."""
    lhs = cand[0] * best[1] * best[2]
    rhs = best[0] * cand[1] * cand[2]
    return lhs > rhs or (lhs == rhs and cand[3] < best[3])


def _train_wordpiece_local(items: list[tuple], n_merges: int) -> list[tuple]:
    """Driver-local WordPiece training over a collected (word, freq)
    table with INCREMENTAL count maintenance: pair counts, symbol
    marginals, and a pair→words inverted index are built once; each
    merge then re-segments only the words that contain its pair,
    applying exact count deltas (the BPE trainer's decomposition). The
    argmax cannot sit in a heap the way BPE's does — WordPiece scores
    couple globally through the marginals (every merge re-scores every
    pair sharing a symbol with the pick) — so each round scans the LIVE
    PAIR dictionary with ``_wp_better``'s exact cross-multiplication.
    That dictionary is small by construction: symbols start as the
    bare/## character alphabet and grow by one per merge, so live pairs
    number O((alphabet + merges)²) in the worst case and far fewer in
    practice — the scan is microseconds, not the corpus-sized recount a
    naive per-round rebuild pays (measured: the rebuild dominated at
    ~2.5 s/round on a ~500k-word vocab; the incremental form holds the
    per-round cost at O(affected words + live pairs)).

    Merge application is ``_apply_merge_word``'s padded-replace
    semantics with the ##-stripped merged symbol; output is
    bit-identical to the sequential recompute-per-round reference
    (tests/test_wordpiece.py proves equality on random vocabularies).
    """
    words = [_wp_syms(w) for w, _ in items]
    freqs = [int(f) for _, f in items]
    pair_counts: dict[tuple, int] = {}
    sym_counts: dict[str, int] = {}
    index: dict[tuple, set[int]] = {}
    for wi, syms in enumerate(words):
        f = freqs[wi]
        for s in syms:
            sym_counts[s] = sym_counts.get(s, 0) + f
        for q in zip(syms, syms[1:]):
            pair_counts[q] = pair_counts.get(q, 0) + f
            index.setdefault(q, set()).add(wi)
    out: list[tuple] = []
    for rnd in range(1, n_merges + 1):
        best: tuple[int, int, int, str] | None = None
        best_pair: tuple[str, str] | None = None
        for (left, right), c in pair_counts.items():
            if c <= 0:
                continue
            cand = (c, sym_counts[left], sym_counts[right], left + " " + right)
            if best is None or _wp_better(cand, best):
                best, best_pair = cand, (left, right)
        if best is None or best_pair is None:
            break
        left, right = best_pair
        merged = _wp_merged(left, right)
        out.append((rnd, left, right, merged, best[0], best[1], best[2]))
        for wi in list(index.get(best_pair, ())):
            syms = words[wi]
            new = _apply_merge_word(syms, left, right, merged)
            if new == syms:
                continue  # stale index entry (pair no longer adjacent here)
            f = freqs[wi]
            old_pairs: dict[tuple, int] = {}
            for q in zip(syms, syms[1:]):
                old_pairs[q] = old_pairs.get(q, 0) + 1
            new_pairs: dict[tuple, int] = {}
            for q in zip(new, new[1:]):
                new_pairs[q] = new_pairs.get(q, 0) + 1
            for q, k in old_pairs.items():
                d = new_pairs.get(q, 0) - k
                if d:
                    pair_counts[q] = pair_counts.get(q, 0) + d * f
            for q, k in new_pairs.items():
                if q not in old_pairs:
                    pair_counts[q] = pair_counts.get(q, 0) + k * f
                    index.setdefault(q, set()).add(wi)
            old_syms: dict[str, int] = {}
            for s in syms:
                old_syms[s] = old_syms.get(s, 0) + 1
            new_syms: dict[str, int] = {}
            for s in new:
                new_syms[s] = new_syms.get(s, 0) + 1
            for s in old_syms.keys() | new_syms.keys():
                d = new_syms.get(s, 0) - old_syms.get(s, 0)
                if d:
                    sym_counts[s] = sym_counts.get(s, 0) + d * f
            words[wi] = new
    return out


def _train_wordpiece_from_words(words: DataFrame, n_merges: int) -> list[tuple]:
    """WordPiece merge training over a (w, freq) word table — the same
    two-tier decomposition as ``_train_merges_from_words`` (corpus-scale
    work already done by ONE word-count shuffle; vocab-scale work local
    when the table fits the BPE collect caps, distributed above them).

    The distributed tier runs ONE merge per round: a pair-count aggregate
    and a symbol-marginal aggregate over the segmented word table, joined
    and double-scored to PREFILTER candidates — everything within 1e-9
    relative of the max double score is collected (the double ratio of
    int64s is exact to ~4 ulp ≈ 1e-15 relative, so the exact argmax
    provably survives the filter) — then the exact integer
    cross-multiplication picks the winner on the driver. No merge
    batching: WordPiece merges couple through the global marginals, so
    the BPE batch-soundness bound does not transfer.
    """
    bound = words.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.length("w")), F.lit(0)).alias("chars"),
    ).collect()[0]
    if bound["n"] <= BPE_LOCAL_MAX_VOCAB and bound["chars"] <= BPE_LOCAL_MAX_CHARS:
        items = [(r["w"], int(r["freq"])) for r in words.collect()]
        return _train_wordpiece_local(items, n_merges)
    seqs = words.select(
        "w",
        "freq",
        F.array_join(
            F.transform(
                F.regexp_extract_all("w", F.lit("."), 0),
                lambda c, i: F.when(i == 0, c).otherwise(F.concat(F.lit(WP_CONT), c)),
            ),
            " ",
        ).alias("seq"),
    )
    out: list[tuple] = []
    ckpt = None  # the live seqs checkpoint: released when superseded and on exit
    try:
        while len(out) < n_merges:
            # syms feeds the pair aggregate AND the marginal aggregate (which
            # itself broadcast-joins twice): persist per round or every
            # consumer replays the growing replace-chain lineage over the
            # corpus-vocab table (CLAUDE.md multi-consumer rule)
            syms = seqs.select("freq", F.split("seq", " ").alias("l")).persist()
            pairs = syms.select(
                "freq",
                F.explode(
                    F.zip_with(
                        F.slice("l", 1, F.size("l") - 1),
                        F.slice("l", 2, F.size("l") - 1),
                        lambda x, y: F.concat(x, F.lit(" "), y),
                    )
                ).alias("p"),
            ).groupBy("p").agg(F.sum("freq").alias("cnt"))
            marg = (
                syms.select("freq", F.explode("l").alias("s"))
                .groupBy("s")
                .agg(F.sum("freq").alias("f"))
            )
            scored = (
                pairs.withColumn("ls", F.split_part("p", F.lit(" "), F.lit(1)))
                .withColumn("rs", F.split_part("p", F.lit(" "), F.lit(2)))
                .join(F.broadcast(marg).withColumnRenamed("s", "ls").withColumnRenamed("f", "lf"), "ls")
                .join(F.broadcast(marg).withColumnRenamed("s", "rs").withColumnRenamed("f", "rf"), "rs")
                .withColumn(
                    "score",
                    F.col("cnt").cast("double")
                    / (F.col("lf").cast("double") * F.col("rf").cast("double")),
                )
                .persist()
            )
            try:
                mx_row = scored.agg(F.max("score").alias("m")).collect()[0]
                if mx_row["m"] is None:
                    break
                cands = scored.filter(
                    F.col("score") >= F.lit(float(mx_row["m"]) * (1.0 - 1e-9))
                ).collect()
            finally:
                release(scored, syms)
            best: tuple[int, int, int, str] | None = None
            for r in cands:
                cand = (int(r["cnt"]), int(r["lf"]), int(r["rf"]), r["p"])
                if best is None or _wp_better(cand, best):
                    best = cand
            assert best is not None
            left, right = best[3].split(" ")
            merged = _wp_merged(left, right)
            out.append((len(out) + 1, left, right, merged, best[0], best[1], best[2]))
            seqs = seqs.select(
                "w",
                "freq",
                F.trim(
                    F.replace(
                        F.concat(F.lit(" "), F.col("seq"), F.lit(" ")),
                        F.lit(f" {left} {right} "),
                        F.lit(f" {merged} "),
                    )
                ).alias("seq"),
            )
            if len(out) % BPE_CHECKPOINT_EVERY == 0:  # one merge per round
                seqs = seqs.localCheckpoint(eager=True)
                release(ckpt)
                ckpt = seqs
    finally:
        release(ckpt)
    return out


@register("wordpiece_merges", oracle=_WP_ORACLE)
def wordpiece_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece tokenizer training (Schuster & Nakajima 2012; BERT): the
    first ``WP_N_MERGES`` likelihood-scored merge rounds over the
    documents corpus, graded EXACTLY — merge table, pair frequencies AND
    both marginals.

    Completes the tokenizer-trainer family next to BPE (`bpe_merges` —
    count-scored) and the unigram LM (`unigram_pieces` — EM-pruned): the
    three vocabulary-learning algorithms real LLM pipelines choose
    between. WordPiece = BPE with the merge argmax replaced by the
    likelihood gain c(l,r)/(f(l)·f(r)) and the ## continuation symbol
    space; both differences are replayed integer-exactly in the oracle
    (HUGEINT cross-multiplied scores — never a float division — and
    ##-aware merge application).

    Scale shape: identical to ``bpe_merges`` — the corpus is touched ONCE
    (the word-count shuffle); training runs on the vocab-sized table,
    driver-local under the BPE collect caps, distributed
    one-merge-per-round above them (see ``_train_wordpiece_from_words``
    for why WordPiece merges cannot batch).
    """
    docs = parallelize_scan(table(spark, sf_dir, "documents"))
    words = (
        docs.select(F.explode(F.regexp_extract_all("text", F.lit(WORD_REGEX), 0)).alias("w0"))
        .select(F.lower(F.trim(F.col("w0"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .persist()
    )
    try:
        out = _train_wordpiece_from_words(words, WP_N_MERGES)
    finally:
        words.unpersist()
    return spark.createDataFrame(
        out,
        "round int, left_sym string, right_sym string, merged string,"
        " pair_freq bigint, left_freq bigint, right_freq bigint",
    )


# ---------------------------------------------------------------------------
# Composed tokenizer lifecycle: train BPE → encode → pack sequences
# ---------------------------------------------------------------------------

from flink_mm_spark.operators.llm_prep import SEQ_TOKEN_BUDGET  # noqa: E402

_TOKENIZE_PACK_ORACLE = (
    _BPE_ENCODE_ORACLE.split("SELECT dw.doc_id,")[0]
    + f"""
    , counts AS (
      SELECT dw.doc_id,
             CAST(SUM(e.n_sub) AS INTEGER) AS n_tok,
             md5(CAST(dw.doc_id AS VARCHAR)) AS shuffle_key
      FROM dw JOIN enc e USING (w)
      GROUP BY dw.doc_id
    ),
    ordered AS (
      SELECT doc_id, n_tok,
             CAST(COALESCE(SUM(n_tok) OVER (
               ORDER BY shuffle_key, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_before
      FROM counts
    )
    SELECT doc_id, n_tok,
           CAST(cum_before // {SEQ_TOKEN_BUDGET} AS BIGINT) AS seq_id,
           CAST(cum_before % {SEQ_TOKEN_BUDGET} AS BIGINT) AS seq_off
    FROM ordered ORDER BY doc_id
    """
)


@register("tokenize_pack_pipeline", oracle=_TOKENIZE_PACK_ORACLE)
def tokenize_pack_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSED tokenizer lifecycle: train the BPE merges, encode every
    document, and pack the corpus into fixed-token-budget training
    sequences using the REAL subword counts — the end-to-end path a
    pretraining data pipeline runs between curated text and the data
    loader (the dedup-side analogue is ``corpus_prep_pipeline``).

    Every stage is shared, already-graded code: ``bpe_encode`` supplies
    per-document ``n_bpe_tokens`` (merge-table and encode both
    hash-graded), and ``pack_by_counts`` runs the two-pass distributed
    prefix sum (`operators/llm_prep.py`) over those counts instead of
    whitespace counts. The oracle composes the two components' SQL the
    same way: the BPE stage replay feeds the naive global-window pack.

    Scale: the tokenizer half is one word-count shuffle + a vocab-sized
    broadcast; the packer half is one range exchange — composing them
    adds NO new shuffle shape.
    """
    from flink_mm_spark.operators.llm_prep import pack_by_counts

    enc = _bpe_doc_counts(spark, sf_dir)  # unsorted: the packer range-partitions
    docs = enc.select("doc_id", F.col("n_bpe_tokens").cast("int").alias("n_tok"))
    return pack_by_counts(spark, docs)


def _wp_merged_sql(k: int) -> str:
    """SQL for stage k's merged piece text (left ++ ##-stripped right),
    as a FROM-reference over the one-row best{k} CTE — NOT a scalar
    subquery: scalar subqueries against the stage chain evaluate NULL
    when the consuming CTE is (transitively) referenced from inside a
    recursive CTE (observed on DuckDB 1.x; the encode oracle's vocab
    silently lost every merged piece and over-segmented)."""
    return (
        "SELECT split_part(p, ' ', 1)"
        " || regexp_replace(split_part(p, ' ', 2), '^##', '') AS m"
        f" FROM best{k}"
    )


# Greedy longest-match-first ("MaxMatch") inference — the algorithm BERT
# actually runs at encode time, which for WordPiece does NOT equal replaying
# the training merges (BPE's property). The oracle replays it with a
# recursive CTE: each step consumes the longest vocab piece matching at the
# cursor (bare pieces at position 1, ##-continuation pieces after), and a
# word with no match anywhere becomes ONE [UNK] piece. Vocab = the observed
# bare/## character alphabet plus the trained merge pieces.
_WP_ENCODE_ORACLE = (
    _WP_ORACLE.split("SELECT * FROM (")[0].replace(
        "WITH words AS MATERIALIZED", "WITH RECURSIVE words AS MATERIALIZED", 1
    )
    + ", merges AS MATERIALIZED ("
    + " UNION ALL ".join(_wp_merged_sql(k) for k in range(1, WP_N_MERGES + 1))
    + f"""
    ),
    -- vocab must stay a PLAIN CTE: DuckDB evaluates a MATERIALIZED CTE
    -- referenced from inside a recursive CTE's correlated subquery as
    -- EMPTY (observed on 1.x: every lookup returned NULL and all words
    -- graded [UNK]). Inlined, each lookup re-scans the MATERIALIZED
    -- words/merges — bounded by vocab size, not the stage chain.
    vocab AS (
      SELECT substr(w, 1, 1) AS p, TRUE AS initial FROM words
      UNION
      SELECT c, FALSE FROM (
        SELECT unnest(regexp_extract_all(substr(w, 2), '.')) AS c FROM words
      )
      UNION
      SELECT regexp_replace(m, '^##', ''), m NOT LIKE '##%' FROM merges
    ),
    seg AS (
      -- the WHERE clause is a load-bearing no-op: a CTE that only the
      -- RECURSIVE TERM references evaluates empty/NULL on DuckDB 1.x
      -- (merged pieces silently vanished from the vocab lookup);
      -- referencing vocab from the ANCHOR forces its full evaluation
      -- before iteration starts
      SELECT w, 1 AS pos, 0 AS np, FALSE AS unk FROM words
      WHERE (SELECT COUNT(*) FROM vocab) >= 0
      UNION ALL
      SELECT w, pos + COALESCE(best_len, len(w) + 1 - pos), np + 1, best_len IS NULL
      FROM (
        SELECT s.w, s.pos, s.np,
               (SELECT MAX(len(v.p)) FROM vocab v
                WHERE v.initial = (s.pos = 1)
                  AND v.p = substr(s.w, s.pos, len(v.p))) AS best_len
        FROM seg s WHERE s.pos <= len(s.w) AND NOT s.unk
      )
    ),
    enc AS MATERIALIZED (
      SELECT w,
             CASE WHEN BOOL_OR(unk) THEN 1 ELSE MAX(np) END AS n_sub,
             CAST(BOOL_OR(unk) AS INT) AS is_unk
      FROM seg WHERE pos > len(w) OR unk GROUP BY w
    ),
    dw AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(trim(text)), '{WORD_REGEX}')) AS w
      FROM documents
    )
    SELECT dw.doc_id,
           CAST(COUNT(*) AS INTEGER) AS n_words,
           CAST(SUM(e.n_sub) AS BIGINT) AS n_wp_tokens,
           CAST(SUM(e.is_unk) AS BIGINT) AS n_unk_words,
           ROUND(CAST(SUM(e.n_sub) AS DOUBLE) / COUNT(*), 6) AS wp_per_word
    FROM dw JOIN enc e USING (w)
    GROUP BY dw.doc_id
    ORDER BY dw.doc_id
    """
)


def _wp_maxmatch(
    word: str, bare: set[str], cont: set[str], max_len: int
) -> tuple[int, bool]:
    """Greedy longest-match-first WordPiece segmentation: returns
    (n_pieces, is_unk). At each cursor take the LONGEST vocab piece that
    matches (bare table at position 0, continuation table after); a word
    that fails to match anywhere is ONE [UNK] piece — BERT's whole-word
    UNK semantics, the same accounting the oracle's recursion emits."""
    pos, n, k = 0, len(word), 0
    while pos < n:
        tbl = bare if pos == 0 else cont
        ln = min(max_len, n - pos)
        while ln > 0 and word[pos : pos + ln] not in tbl:
            ln -= 1
        if ln == 0:
            return 1, True
        k += 1
        pos += ln
    return k, False


@register("wordpiece_encode", oracle=_WP_ENCODE_ORACLE)
def wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece tokenizer APPLY: greedy longest-match-first (MaxMatch)
    encoding of every document under the vocabulary trained by
    ``wordpiece_merges``, with per-document subword and UNK counts.

    Unlike BPE — where encode provably equals replaying the training
    merges — WordPiece inference is a DIFFERENT algorithm from training
    (BERT's MaxMatch), so this entry grades the inference semantics in
    their own right: the oracle re-runs MaxMatch with a recursive CTE
    over (word, cursor) state, longest-piece steps via a correlated
    max-length lookup against the replayed vocab. Both sides produce
    exact integers, so the driver value-hash must match.

    Scale shape (``bpe_encode``'s): the corpus is never encoded
    word-by-word in Python row loops, and — unlike a first draft of this
    operator — the WORD TABLE never lands on the driver either: only the
    character alphabet (two distinct-char aggregates) and the N merged
    pieces come back, the resulting vocab sets (O(alphabet + merges),
    KBs) ship in the MaxMatch closure, and the DISTINCT word table is
    segmented DISTRIBUTED in one Arrow-batched mapInPandas pass. The
    per-word piece counts then broadcast-join back onto the exploded
    word stream; per-doc rollups are integer sums. UNK is structurally
    zero here (the vocab is trained on the same corpus) but the column
    carries the semantics for held-out encoding.

    The word table feeds the trainer, two char aggregates, and the
    segmentation pass, so it stays persisted for the run via the module
    cache (the returned DataFrame executes after this function returns).
    """
    docs = parallelize_scan(table(spark, sf_dir, "documents"))
    bare, cont, max_len, words = _wp_trained_vocab(docs)
    enc = _wp_seg_enc(words.select("w"), bare, cont, max_len)
    dw = docs.select(
        "doc_id",
        F.explode(F.regexp_extract_all("text", F.lit(WORD_REGEX), 0)).alias("w0"),
    ).select("doc_id", F.lower(F.trim(F.col("w0"))).alias("w"))
    return _wp_doc_rollup(_encoded_words_join(dw, enc), "doc_id")


def _wp_trained_vocab(docs: DataFrame):
    """Train the WordPiece vocab over a documents DataFrame and return
    ``(bare, cont, max_len, words)``: the bare/continuation piece sets
    (alphabet + merged pieces — O(alphabet + merges), KBs, closure-safe),
    the longest piece length, and the persisted word-frequency table
    (module-cached; the caller's returned DataFrame executes after the
    calling function returns)."""
    words = keep_latest(
        "wp_words",
        docs.select(F.explode(F.regexp_extract_all("text", F.lit(WORD_REGEX), 0)).alias("w0"))
        .select(F.lower(F.trim(F.col("w0"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq")),
    )
    merges = _train_wordpiece_from_words(words, WP_N_MERGES)
    bare = {
        r["c"]
        for r in words.select(F.substring("w", 1, 1).alias("c")).distinct().collect()
    }
    cont = {
        r["c"]
        for r in words.select(
            F.explode(
                F.regexp_extract_all(F.expr("substring(w, 2)"), F.lit("."), 0)
            ).alias("c")
        )
        .distinct()
        .collect()
    }
    for _rnd, _l, _r, merged, _c, _lf, _rf in merges:
        if merged.startswith(WP_CONT):
            cont.add(merged[len(WP_CONT):])
        else:
            bare.add(merged)
    max_len = max(len(p) for p in (bare | cont))
    return bare, cont, max_len, words


def _wp_seg_enc(
    word_col: DataFrame, bare: set, cont: set, max_len: int
) -> DataFrame:
    """MaxMatch-segment a one-column DISTINCT word DataFrame in one
    Arrow-batched mapInPandas pass (vocab sets in the closure)."""
    import pandas as pd

    def seg(batches):
        for pdf in batches:
            res = [_wp_maxmatch(w, bare, cont, max_len) for w in pdf["w"]]
            yield pd.DataFrame(
                {
                    "w": pdf["w"],
                    "n_sub": [r[0] for r in res],
                    "is_unk": [r[1] for r in res],
                }
            )

    return word_col.mapInPandas(seg, "w string, n_sub int, is_unk boolean")


def _wp_doc_rollup(joined: DataFrame, key: str) -> DataFrame:
    """Per-document integer rollup of the (key, n_sub, is_unk) word
    stream: word/subword/UNK counts and the rounded tokens-per-word."""
    return (
        joined.groupBy(key)
        .agg(
            F.count("*").cast("int").alias("n_words"),
            F.sum("n_sub").cast("bigint").alias("n_wp_tokens"),
            F.sum(F.col("is_unk").cast("int")).cast("bigint").alias("n_unk_words"),
            F.round(F.sum("n_sub").cast("double") / F.count("*"), 6).alias(
                "wp_per_word"
            ),
        )
        .orderBy(key)
    )


# Held-out (cross-domain) encode oracle: the train prefix (word table +
# WP_N_MERGES likelihood-argmax stages + merged pieces + vocab) is shared
# verbatim with _WP_ENCODE_ORACLE; the MaxMatch recursion then runs over the
# DISTINCT held-out words (part names), not the training words. All the
# recursive-CTE gotchas carry over: vocab stays a PLAIN CTE, and the anchor
# references it through the load-bearing COUNT(*) no-op.
_WP_HOLDOUT_ORACLE = (
    _WP_ENCODE_ORACLE.split("    seg AS (")[0]
    + f"""
    pw AS MATERIALIZED (
      SELECT p_partkey AS part_id,
             unnest(regexp_extract_all(lower(trim(p_name)), '{WORD_REGEX}')) AS w
      FROM part
    ),
    hw AS MATERIALIZED (SELECT DISTINCT w FROM pw),
    seg AS (
      SELECT w, 1 AS pos, 0 AS np, FALSE AS unk FROM hw
      WHERE (SELECT COUNT(*) FROM vocab) >= 0
      UNION ALL
      SELECT w, pos + COALESCE(best_len, len(w) + 1 - pos), np + 1, best_len IS NULL
      FROM (
        SELECT s.w, s.pos, s.np,
               (SELECT MAX(len(v.p)) FROM vocab v
                WHERE v.initial = (s.pos = 1)
                  AND v.p = substr(s.w, s.pos, len(v.p))) AS best_len
        FROM seg s WHERE s.pos <= len(s.w) AND NOT s.unk
      )
    ),
    enc AS MATERIALIZED (
      SELECT w,
             CASE WHEN BOOL_OR(unk) THEN 1 ELSE MAX(np) END AS n_sub,
             CAST(BOOL_OR(unk) AS INT) AS is_unk
      FROM seg WHERE pos > len(w) OR unk GROUP BY w
    )
    SELECT pw.part_id,
           CAST(COUNT(*) AS INTEGER) AS n_words,
           CAST(SUM(e.n_sub) AS BIGINT) AS n_wp_tokens,
           CAST(SUM(e.is_unk) AS BIGINT) AS n_unk_words,
           ROUND(CAST(SUM(e.n_sub) AS DOUBLE) / COUNT(*), 6) AS wp_per_word
    FROM pw JOIN enc e USING (w)
    GROUP BY pw.part_id
    ORDER BY pw.part_id
    """
)


@register("wordpiece_encode_holdout", oracle=_WP_HOLDOUT_ORACLE)
def wordpiece_encode_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HELD-OUT WordPiece encode: the vocab trains on the ``documents``
    corpus and encodes the ``part`` name text it has never seen — the
    deploy half of the train→apply lifecycle on genuinely out-of-domain
    input (VERDICT r7 ask #6; the reference analogue is
    mm/MatrixMultiply.java:88-103's oracle-vs-engine pattern applied to
    unseen data).

    Unlike ``wordpiece_encode`` — whose UNK count is structurally zero
    because it tokenizes its own training corpus — this entry grades the
    UNK branch with real rows: the documents alphabet contains no 'x' or
    'z', so part-name words like "bronze" fail MaxMatch at the missing
    character and collapse to one [UNK] piece (BERT's whole-word UNK
    semantics), giving ``n_unk_words > 0`` on every scale factor.

    Scale shape is ``wordpiece_encode``'s unchanged: vocab sets (KBs) in
    the mapInPandas closure, the held-out DISTINCT word table segmented
    distributed, counts rejoined via the guarded vocab-broadcast.
    """
    docs = parallelize_scan(table(spark, sf_dir, "documents"))
    bare, cont, max_len, _words = _wp_trained_vocab(docs)
    pw = (
        table(spark, sf_dir, "part")
        .select(
            F.col("p_partkey").alias("part_id"),
            F.explode(
                F.regexp_extract_all("p_name", F.lit(WORD_REGEX), 0)
            ).alias("w0"),
        )
        .select("part_id", F.lower(F.trim(F.col("w0"))).alias("w"))
    )
    enc = _wp_seg_enc(pw.select("w").distinct(), bare, cont, max_len)
    return _wp_doc_rollup(_encoded_words_join(pw, enc), "part_id")


CHUNK_TOKENS = 10

_CHUNK_ORACLE = f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS a
      FROM documents
    ),
    chunks AS (
      SELECT doc_id, c.chunk_idx, c.chunk, c.n_tok FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, 1 + CAST(ceil(len(a) / {CHUNK_TOKENS}.0) AS INT)),
                 i -> struct_pack(
                   chunk_idx := i - 1,
                   chunk := array_to_string(a[(i - 1) * {CHUNK_TOKENS} + 1 : i * {CHUNK_TOKENS}], ' '),
                   n_tok := len(a[(i - 1) * {CHUNK_TOKENS} + 1 : i * {CHUNK_TOKENS}])))) AS c
        FROM toks
      )
    ),
    marked AS (
      SELECT doc_id, chunk_idx, n_tok,
             (doc_id, chunk_idx) = MIN((doc_id, chunk_idx)) OVER (PARTITION BY chunk) AS keep
      FROM chunks
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN keep THEN n_tok ELSE 0 END) AS BIGINT) AS tokens_kept
    FROM marked GROUP BY doc_id ORDER BY doc_id
"""


@register("chunk_dedup", oracle=_CHUNK_ORACLE)
def chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact span dedup — the C4 line-level dedup shape
    (Raffel et al.: drop any repeated three-sentence span corpus-wide,
    keeping its first occurrence). The synthetic corpus has no newlines,
    so the span framing is deterministic 10-token chunks; the keep rule
    is first occurrence by (doc_id, chunk_idx), matching C4's "keep one".

    Scale shape: chunking is a pure JVM higher-order expression over the
    token array (transform + slice — no shuffle, no Python); the ONLY
    exchange is the keep-first window keyed on the chunk text (at 100 TB
    key on ``xxhash64(chunk)`` instead to shrink the shuffle rows — same
    plan). The per-doc rollup rides the same partitioning. Output is pure
    integers → exact oracle.
    """
    docs = table(spark, sf_dir, "documents").select("doc_id", tokens_expr().alias("a"))
    n_chunks = F.ceil(F.size("a") / F.lit(float(CHUNK_TOKENS))).cast("int")
    chunks = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), n_chunks),
                lambda i: F.array_join(
                    F.slice("a", (i - 1) * CHUNK_TOKENS + 1, CHUNK_TOKENS), " "
                ),
            )
        ).alias("chunk_idx", "chunk"),
    ).select(
        "doc_id",
        "chunk_idx",
        "chunk",
        F.size(F.split("chunk", " ")).alias("n_tok"),
    )
    from pyspark.sql.window import Window

    first = F.min(F.struct("doc_id", "chunk_idx")).over(Window.partitionBy("chunk"))
    marked = chunks.withColumn(
        "keep", F.struct("doc_id", "chunk_idx") == first
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(F.col("keep"), F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias("tokens_kept"),
        )
        .orderBy("doc_id")
    )


# --- unigram-LM tokenizer (SentencePiece-style), r5 -------------------------

# Completes the tokenizer family alongside BPE: seed a substring vocabulary,
# refine piece probabilities by hard (Viterbi) EM, prune to a target size,
# and encode documents against the learned pieces. Same two-tier scale story
# as BPE: the CORPUS is touched once (the word-count shuffle feeding
# ``_train_merges``'s words table). The EM loop runs on the loop runtime
# k-means and DA-MDS use: the distinct-word table is decoded once into a
# loop-lifetime RDD of word blocks (``linalg.block_matrix.array_blocks``),
# and every round is one ``map_blocks`` job that Viterbi-segments each block
# under the O(vocab-size) piece table in the kernel's closure and returns
# its piece counts, merged on the driver. Genuinely iterative/float — graded
# rows-only, with the algorithmic contracts pinned by tests/test_unigram.py
# (segmentation validity, hard-EM loss monotonicity, determinism, coverage).
UNI_MAX_PIECE_LEN = 4
UNI_SEED_SIZE = 96
UNI_VOCAB_SIZE = 48
UNI_EM_ITERS = 2


def _viterbi(w: str, logp: dict, max_len: int) -> tuple[list[str], float]:
    """Best segmentation of ``w`` under piece log-probs — deterministic:
    candidate lengths iterate ascending and ties resolve to the LONGEST
    final piece (the ``>=`` update)."""
    n = len(w)
    best = [0.0] + [float("-inf")] * n
    back = [0] * (n + 1)
    for i in range(1, n + 1):
        for ln in range(1, min(max_len, i) + 1):
            p = w[i - ln : i]
            lp = logp.get(p)
            if lp is None:
                continue
            cand = best[i - ln] + lp
            if cand >= best[i]:
                best[i] = cand
                back[i] = ln
    if n > 0 and best[n] == float("-inf"):
        raise ValueError(f"word {w!r} unsegmentable under the piece table")
    pieces: list[str] = []
    i = n
    while i > 0:
        pieces.append(w[i - back[i] : i])
        i -= back[i]
    pieces.reverse()
    return pieces, best[n]


def _word_blocks(words: DataFrame) -> AbstractContextManager[RDD]:
    """The EM's loop-lifetime RDD: one (words, int64 freqs) record per
    partition of the (w, freq) table, an empty one for a partition with no
    rows. The table is first coalesced to at most defaultParallelism
    partitions (``place_blocks``' narrow rule), so a table cached in 200
    shuffle partitions runs each round in one task per core."""

    def encode(batches):
        ws: list[str] = []
        fs = [np.empty(0, dtype=np.int64)]
        for b in batches:
            ws += b.column(0).to_pylist()
            fs.append(b.column(1).to_numpy(zero_copy_only=False))
        yield ws, np.concatenate(fs)

    wf = words.select("w", "freq")
    return array_blocks(place_blocks(wf, wf.rdd.getNumPartitions(), key=None), encode)


def _unigram_em_round(blocks: RDD, logp: dict, max_len: int) -> tuple[dict, float]:
    """One hard-EM round, one ``map_blocks`` job: every block Viterbi-
    segments its words (freq-weighted) under the piece table in the
    kernel's closure and returns (piece → count, loss); the driver merges
    the partials in partition order. Returns (piece → count, total negative
    log-likelihood)."""

    def estep(block):
        agg: dict[str, int] = {}
        loss = 0.0
        for w, f in zip(block[0], block[1].tolist()):
            pieces, score = _viterbi(w, logp, max_len)
            loss += -score * f
            for p in pieces:
                agg[p] = agg.get(p, 0) + f
        return agg, loss

    counts: dict[str, int] = {}
    total_loss = 0.0
    for agg, loss in map_blocks(blocks, estep):
        total_loss += loss
        for p, c in agg.items():
            counts[p] = counts.get(p, 0) + c
    # rounded: the trajectory is diagnostic, not graded, and a different
    # block cut moves the double sum in its last ulps (CLAUDE.md float-sum rule)
    return counts, round(total_loss, 3)


def _renormalize(counts: dict, chars: set) -> dict:
    """M-step: piece log-probs from counts. Multi-char pieces with zero
    count drop out; single characters keep an add-one floor so every word
    stays segmentable after any prune."""
    import math

    kept = {p: c for p, c in counts.items() if c > 0 or (len(p) == 1 and p in chars)}
    for ch in chars:
        kept[ch] = kept.get(ch, 0) + 1
    total = sum(kept.values())
    return {p: math.log(c / total) for p, c in kept.items()}


def train_unigram(words: DataFrame) -> tuple[list[tuple], list[float]]:
    """SentencePiece-style unigram training over a (w, freq) word table.

    1. SEED: all substrings of length ≤ ``UNI_MAX_PIECE_LEN`` counted
       corpus-wide (one explode + aggregate), top ``UNI_SEED_SIZE`` by
       frequency-weighted occurrences, plus every single character.
    2. Hard EM × ``UNI_EM_ITERS``: distributed Viterbi E-step, count
       M-step (joint best-segmentation likelihood is non-decreasing — the
       standard hard-EM guarantee, asserted in tests).
    3. PRUNE to ``UNI_VOCAB_SIZE`` pieces (lowest-count multi-char pieces
       first; characters are never pruned), then one final EM round.

    The seed aggregate and the character distinct run once as SQL; the
    ``UNI_EM_ITERS + 1`` EM rounds share one decode of the word table
    (``_word_blocks``, released on return) and are one Spark job each.

    Returns (final piece table [(piece, count, logprob)] sorted by piece,
    loss trajectory).
    """
    seed = (
        words.select(
            "freq",
            # iterate (start, length) with the inner bound length-aware:
            # least(L, len-i+1) is always >= 1, so no sequence(1, 0) —
            # Spark sequences DESCEND when stop < start (the r5 review
            # caught short words being multi-counted by the naive form)
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, length(w)),"
                    f" i -> transform(sequence(1, least({UNI_MAX_PIECE_LEN}, length(w) - i + 1)),"
                    " ln -> substring(w, i, ln))))"
                )
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("piece").asc())
        .limit(UNI_SEED_SIZE)
        .collect()
    )
    chars = {
        r["piece"]
        for r in words.select(
            F.explode(F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")).alias(
                "piece"
            )
        )
        .distinct()
        .collect()
    }
    counts = {r["piece"]: int(r["cnt"]) for r in seed}
    for ch in chars:
        counts.setdefault(ch, 1)
    logp = _renormalize(counts, chars)
    losses: list[float] = []
    with _word_blocks(words) as blocks:
        for _ in range(UNI_EM_ITERS):
            counts, loss = _unigram_em_round(blocks, logp, UNI_MAX_PIECE_LEN)
            losses.append(loss)
            logp = _renormalize(counts, chars)
        # prune lowest-count multi-char pieces down to the target vocab
        multi = sorted(
            ((p, c) for p, c in counts.items() if len(p) > 1 and p in logp),
            key=lambda pc: (pc[1], pc[0]),
        )
        vocab = {p for p in logp}
        over = len(vocab) - UNI_VOCAB_SIZE
        for p, _c in multi[: max(0, over)]:
            vocab.discard(p)
        logp = {p: lp for p, lp in logp.items() if p in vocab}
        counts, loss = _unigram_em_round(blocks, logp, UNI_MAX_PIECE_LEN)
    losses.append(loss)
    logp = _renormalize(counts, chars)
    table_rows = sorted(
        (p, counts.get(p, 0), round(lp, 6)) for p, lp in logp.items()
    )
    return table_rows, losses


def _unigram_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.explode(F.regexp_extract_all("text", F.lit(WORD_REGEX), 0)).alias("w0")
        )
        .select(F.lower(F.trim(F.col("w0"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


@register("unigram_pieces", oracle=None)  # iterative float EM → rows-only
def unigram_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned unigram piece table (piece, count, logprob) over the
    documents corpus — the trainer half of the SentencePiece-style
    lifecycle. Deterministic given the corpus (seeded ties broken
    lexicographically, Viterbi ties to the longest piece), but float EM is
    not SQL-replayable → rows-only; the algorithmic contracts are pinned
    in tests/test_unigram.py."""
    words = _unigram_words(spark, sf_dir).persist()
    try:
        rows, _losses = train_unigram(words)
    finally:
        words.unpersist()
    return spark.createDataFrame(rows, "piece string, count bigint, logprob double")


@register("unigram_encode", oracle=None)  # depends on the EM table → rows-only
def unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram ENCODE: per-document piece counts under the trained table —
    the deploy half (train → encode), mirroring ``wordpiece_encode``'s
    shape: the trained piece table (O(vocab), KBs) ships in a mapInPandas
    closure and the DISTINCT word table is segmented DISTRIBUTED in one
    Arrow-batched pass — the word table never lands on the driver (the
    `words.collect()` + per-word Python loop this replaced was the exact
    scale-killer VERDICT r6 ask #2 / r7 ask #4 named). Per-word piece
    counts then rejoin the exploded word stream via the guarded
    vocab-broadcast (`_encoded_words_join`); per-doc rollups are integer
    sums. The corpus is never segmented row-by-row.

    The word table is held with ``keep_latest`` (ADVICE r5):
    train_unigram reads it three times (seed aggregate, char distinct,
    the EM loop's one decode) and the segmentation pass is a 4th,
    executing AFTER this function returns — an eager unpersist here would
    re-run the corpus word-count shuffle per consumer."""
    import pandas as pd

    words = keep_latest("uni_words", _unigram_words(spark, sf_dir))
    rows, _losses = train_unigram(words)
    logp = {p: lp for p, _c, lp in rows}

    def seg(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "w": pdf["w"],
                    "n_pieces": [
                        len(_viterbi(w, logp, UNI_MAX_PIECE_LEN)[0])
                        for w in pdf["w"]
                    ],
                }
            )

    enc = words.select("w").mapInPandas(seg, "w string, n_pieces int")
    docs = table(spark, sf_dir, "documents")
    dw = docs.select(
        "doc_id",
        F.explode(F.regexp_extract_all("text", F.lit(WORD_REGEX), 0)).alias("w0"),
    ).select("doc_id", F.lower(F.trim(F.col("w0"))).alias("w"))
    return (
        _encoded_words_join(dw, enc)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_words"),
            F.sum("n_pieces").cast("bigint").alias("n_unigram_pieces"),
            F.round(F.sum("n_pieces").cast("double") / F.count("*"), 6).alias(
                "pieces_per_word"
            ),
        )
        .orderBy("doc_id")
    )


# --- unigram Viterbi encode under a frequency-seeded table, r8 ---------------

# The EM-trained unigram table is inherently float-iterative (rows-only
# forever), but the Viterbi DECODER itself — the deploy-side algorithm — is
# exactly gradeable once the piece weights are integers: seed the table
# directly from substring frequencies (stage 1 of `train_unigram`, no EM),
# quantize each log-probability to integer MICRO-NATS with the repo's
# floor(x*1e6 + 0.5) contract (pq_adc_topk's exactness pattern), and the DP
# then sums integers — bit-identical across engines. Python `math.log` and
# DuckDB `ln` are the same libm call on this box (verified on 20k samples,
# and re-verified per run by the value-hash gate); quantization happens per
# PIECE (O(vocab) values), never per score sum.
_UVE_SENT = -(10**15)  # "unreachable" DP cell; |real scores| < 20 pieces * 4e7

# DuckDB Viterbi via a rolling-window recursive CTE: recursion sees only the
# PREVIOUS iteration's rows, but best[i] needs best[i-1..i-4] — so each row
# carries the last 4 (score, n_pieces) cells as columns and advances one
# character per step. Tie-break matches `_viterbi`'s `>=`-ascending update
# (prefer the LONGEST final piece): the CASE tests candidates in DESCENDING
# length order. Gotchas baked in (learned r5-r7, see CLAUDE.md): vocab
# dedupe via GROUP BY — NOT `UNION` (DuckDB loses UNION's set semantics when
# the CTE chain is re-evaluated inside a recursive term: the seed∪chars
# overlap double-counted and shifted every weight by ln(1.56)); the total via
# `SUM(cnt) OVER ()` — NOT a scalar subquery (those read NULL inside
# recursion); `weights` a PLAIN CTE referenced from the ANCHOR by a
# load-bearing no-op.
_UVE_ORACLE = f"""
WITH RECURSIVE words AS MATERIALIZED (
  SELECT w, COUNT(*) AS freq FROM (
    SELECT unnest(regexp_extract_all(lower(trim(text)), '{WORD_REGEX}')) AS w
    FROM documents
  ) GROUP BY w
),
subs AS MATERIALIZED (
  SELECT substr(w, CAST(i AS INT), CAST(ln AS INT)) AS piece,
         CAST(SUM(freq) AS BIGINT) AS cnt
  FROM words,
       unnest(range(1, len(w) + 1)) AS t(i),
       unnest(range(1, least({{L}}, len(w) - CAST(i AS INT) + 1) + 1)) AS u(ln)
  GROUP BY 1
),
vocab AS MATERIALIZED (
  SELECT piece, MAX(cnt) AS cnt FROM (
    SELECT piece, cnt FROM (
      SELECT piece, cnt FROM subs ORDER BY cnt DESC, piece ASC LIMIT {{SEED}}
    )
    UNION ALL
    SELECT piece, cnt FROM subs WHERE len(piece) = 1
  ) GROUP BY piece
),
weights AS (
  SELECT piece,
         CAST(floor(ln(CAST(cnt AS DOUBLE) /
              CAST(SUM(cnt) OVER () AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS wgt
  FROM vocab
),
vit AS (
  SELECT w, 0 AS j,
         CAST(0 AS BIGINT) AS s1, 0 AS n1,
         CAST({{SENT}} AS BIGINT) AS s2, 0 AS n2,
         CAST({{SENT}} AS BIGINT) AS s3, 0 AS n3,
         CAST({{SENT}} AS BIGINT) AS s4, 0 AS n4
  FROM words
  WHERE (SELECT COUNT(*) FROM weights) >= 0
  UNION ALL
  SELECT w, j + 1,
         best_s,
         CASE WHEN c4 = best_s THEN n4 + 1
              WHEN c3 = best_s THEN n3 + 1
              WHEN c2 = best_s THEN n2 + 1
              ELSE n1 + 1 END,
         s1, n1, s2, n2, s3, n3
  FROM (
    SELECT w, j, s1, n1, s2, n2, s3, n3, s4, n4,
           c1, c2, c3, c4, greatest(c1, c2, c3, c4) AS best_s
    FROM (
      SELECT v.*,
        s1 + COALESCE((SELECT wt.wgt FROM weights wt
                       WHERE wt.piece = substr(v.w, v.j + 1, 1)), {{SENT}}) AS c1,
        CASE WHEN v.j >= 1 THEN s2 + COALESCE((SELECT wt.wgt FROM weights wt
                       WHERE wt.piece = substr(v.w, v.j, 2)), {{SENT}})
             ELSE {{SENT}} END AS c2,
        CASE WHEN v.j >= 2 THEN s3 + COALESCE((SELECT wt.wgt FROM weights wt
                       WHERE wt.piece = substr(v.w, v.j - 1, 3)), {{SENT}})
             ELSE {{SENT}} END AS c3,
        CASE WHEN v.j >= 3 THEN s4 + COALESCE((SELECT wt.wgt FROM weights wt
                       WHERE wt.piece = substr(v.w, v.j - 2, 4)), {{SENT}})
             ELSE {{SENT}} END AS c4
      FROM vit v WHERE v.j < len(v.w)
    )
  )
),
enc AS MATERIALIZED (
  SELECT w, s1 AS score, n1 AS n_pieces FROM vit WHERE j = len(w)
),
dw AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(trim(text)), '{WORD_REGEX}')) AS w
  FROM documents
)
SELECT dw.doc_id,
       CAST(COUNT(*) AS INTEGER) AS n_words,
       CAST(SUM(e.n_pieces) AS BIGINT) AS n_vit_pieces,
       CAST(SUM(e.score) AS BIGINT) AS vit_score_micronats,
       ROUND(CAST(SUM(e.n_pieces) AS DOUBLE) / COUNT(*), 6) AS pieces_per_word
FROM dw JOIN enc e USING (w)
GROUP BY dw.doc_id
ORDER BY dw.doc_id
""".replace("{L}", str(UNI_MAX_PIECE_LEN)).replace(
    "{SEED}", str(UNI_SEED_SIZE)
).replace("{SENT}", str(_UVE_SENT))

# The oracle's rolling-window recursion carries exactly FOUR (score, n)
# cells (s1..s4/c1..c4) — it is NOT parametric on UNI_MAX_PIECE_LEN even
# though the subs CTE above is (review r8): fail fast here rather than as
# an opaque value-hash mismatch if the piece length ever changes.
assert UNI_MAX_PIECE_LEN == 4, "_UVE_ORACLE's DP window is hardcoded to 4 cells"


@register("unigram_viterbi_encode", oracle=_UVE_ORACLE)
def unigram_viterbi_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM Viterbi ENCODE under a frequency-seeded piece table —
    the deploy-side decoder graded EXACTLY (value-hash), closing the gap
    `unigram_encode` (rows-only: its table comes from float EM) leaves.

    Table: top ``UNI_SEED_SIZE`` substrings of length ≤
    ``UNI_MAX_PIECE_LEN`` by frequency-weighted occurrence count
    (cnt DESC, piece ASC — deterministic) plus every single character
    (guaranteed segmentability), weight = floor(ln(cnt/total)·1e6 + 0.5)
    integer micro-nats. The Viterbi DP then sums INTEGERS, so the best
    score, the tie-break (equal score → longest final piece, `_viterbi`'s
    `>=` update = the oracle's descending CASE), and the backtracked piece
    count are all cross-engine exact.

    Scale shape (`bpe_encode`'s two-tier story): the corpus is touched by
    one word-count shuffle; the substring aggregate is bounded by
    alphabet^len ≤ O(1M) rows regardless of corpus size; only the top-96
    pieces + the alphabet land on the driver (O(vocab), KBs); the DISTINCT
    word table is segmented DISTRIBUTED in one Arrow-batched mapInPandas
    pass (weights in the closure); per-word results rejoin the exploded
    word stream via the guarded vocab-broadcast (`_encoded_words_join`);
    per-doc rollups are integer sums. The word table feeds the substring
    aggregate (two actions) and the segmentation pass, so it stays
    persisted for the run via the module cache (the returned DataFrame
    executes after this function returns).
    """
    import math

    import pandas as pd

    docs = parallelize_scan(table(spark, sf_dir, "documents"))
    words = (
        docs.select(
            F.explode(F.regexp_extract_all("text", F.lit(WORD_REGEX), 0)).alias("w0")
        )
        .select(F.lower(F.trim(F.col("w0"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    subs = (
        words.select(
            "freq",
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, length(w)),"
                    f" i -> transform(sequence(1, least({UNI_MAX_PIECE_LEN}, length(w) - i + 1)),"
                    " ln -> substring(w, i, ln))))"
                )
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
    )
    words, subs = keep_latest("uve_words_subs", words, subs)
    seed = (
        subs.orderBy(F.col("cnt").desc(), F.col("piece").asc())
        .limit(UNI_SEED_SIZE)
        .collect()
    )
    chars = subs.filter(F.length("piece") == 1).collect()
    vocab = {r["piece"]: int(r["cnt"]) for r in seed}
    for r in chars:
        vocab[r["piece"]] = int(r["cnt"])
    total = sum(vocab.values())
    # float-valued INTEGER weights: _viterbi's float sums stay exact below
    # 2^53, and int(score) recovers the micro-nat sum losslessly
    wgt = {p: float(math.floor(math.log(c / total) * 1e6 + 0.5)) for p, c in vocab.items()}

    def seg(batches):
        for pdf in batches:
            ns, ss = [], []
            for w in pdf["w"]:
                pieces, score = _viterbi(w, wgt, UNI_MAX_PIECE_LEN)
                ns.append(len(pieces))
                ss.append(int(score))
            yield pd.DataFrame({"w": pdf["w"], "n_pieces": ns, "score": ss})

    enc = words.select("w").mapInPandas(seg, "w string, n_pieces int, score long")
    dw = docs.select(
        "doc_id",
        F.explode(F.regexp_extract_all("text", F.lit(WORD_REGEX), 0)).alias("w0"),
    ).select("doc_id", F.lower(F.trim(F.col("w0"))).alias("w"))
    return (
        _encoded_words_join(dw, enc)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_words"),
            F.sum("n_pieces").cast("bigint").alias("n_vit_pieces"),
            F.sum("score").cast("bigint").alias("vit_score_micronats"),
            F.round(F.sum("n_pieces").cast("double") / F.count("*"), 6).alias(
                "pieces_per_word"
            ),
        )
        .orderBy("doc_id")
    )
