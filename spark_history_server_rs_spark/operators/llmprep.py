"""LLM training-data preparation operators — the pipeline steps between a
raw crawled corpus and a tokenizer-ready dataset: length profiling,
n-gram statistics, sequence packing, stratified sampling, train/test
decontamination, light normalization, and embedding-health checks.

These extend the reference (which has no corpus ops) the same way
:mod:`.textprep`/:mod:`.dedup`/:mod:`.corpus` do: first-class catalog
entries with DuckDB oracle twins, Spark-first plans.

Scale design per operator:

- **length histogram** — one groupBy over a projected bucket; output is
  bounded by (#langs × #buckets).
- **bigram counts** — explode + window(lead) keyed on doc_id (the same
  single shuffle as fingerprinting), then a bounded top-k aggregate.
- **sequence packing** — running token cumsum per lang (window over the
  lang shuffle), bin = cumsum div budget. Contiguous-greedy: deterministic
  under distributed execution, unlike first-fit-decreasing whose result
  depends on arrival order — the property that matters when 1000 workers
  pack 100 TB.
- **stratified sample** — pure projection (md5 threshold per doc), no
  shuffle before the bounded per-lang summary; sampling decisions are
  reproducible across runs/engines by construction.
- **contamination** — shingle inverted-index join between the train and
  test splits (reuses the materialized shingle relation); shuffles carry
  (doc_id, shingle-hash), never text.
- **stem normalize** — single projection of JVM higher-order lambdas.
- **embedding dim stats / k-means step** — element snapping to scaled
  integers BEFORE any cross-row SUM, so partial-aggregation order (Spark)
  vs sequential order (DuckDB) cannot flip low bits; distances are
  computed in one per-row fold (deterministic IEEE op sequence).

Determinism rule (see ``sources/generic.py``): every cross-row float SUM
aggregates integer-valued doubles; division/rounding happens once, after.
"""

from __future__ import annotations

import threading as _threading

from pyspark.sql import DataFrame

from ..functions.checkpoints import durable_checkpoint
from pyspark.sql import functions as F

from .corpus import TRAIN_PCT, VAL_PCT, _BUCKET
from ..functions.views import scoped_temp_view
from .dedup import _SHINGLES_DUCK, shingles_cte

_TOKENS_SPARK = "filter(split(text, ' '), x -> x <> '')"
_TOKENS_DUCK = "list_filter(string_split(text, ' '), x -> x <> '')"

# --- shared constants -----------------------------------------------------
PACK_TOKEN_BUDGET = 256  # context-window token budget for packing
SAMPLE_PER_CENT = 10  # stratified sample rate (% of docs per lang)
BIGRAM_TOP_K = 50
CONTAMINATION_MIN_SHINGLES = 2  # shared 3-shingles to flag a pair
EMBED_SCALE = 1000000.0  # element snap scale for embedding sums

#: token-count histogram edges (CASE ladder — integer-exact in both
#: engines, no log2 float edge cases at exact powers of two)
LENGTH_BUCKETS = (16, 32, 64, 128, 256)


# ==========================================================================
# L1 — corpus length histogram
# ==========================================================================
def _bucket_case(n_expr: str) -> str:
    branches = []
    lo = 0
    for edge in LENGTH_BUCKETS:
        branches.append(
            f"WHEN {n_expr} < {edge} THEN '{lo:04d}-{edge - 1:04d}'"
        )
        lo = edge
    return (
        "CASE " + " ".join(branches) + f" ELSE '{LENGTH_BUCKETS[-1]:04d}+' END"
    )


_LENGTH_HIST_TAIL = """
sized AS (
  SELECT lang, {bucket} AS token_bucket FROM ({tokens})
),
counts AS (
  SELECT lang, token_bucket, COUNT(*) AS n_docs FROM sized
  GROUP BY lang, token_bucket
),
tot AS (SELECT lang, SUM(n_docs) AS lang_docs FROM counts GROUP BY lang)
SELECT c.lang, c.token_bucket, c.n_docs,
       FLOOR((CAST(c.n_docs AS DOUBLE) * 100.0 / t.lang_docs) * 10000.0 + 0.5)
         / CAST(10000.0 AS DOUBLE) AS pct_of_lang
FROM counts c JOIN tot t ON c.lang = t.lang
ORDER BY c.lang, c.token_bucket
"""


def length_histogram(docs: DataFrame) -> DataFrame:
    """L1: token-count histogram per language (fixed CASE-ladder buckets)
    with each bucket's share of its language. The per-corpus length
    profile every data-mix decision starts from."""
    with scoped_temp_view(docs, "_llm_docs") as dv:
        return docs.sparkSession.sql(
            "WITH "
            + _LENGTH_HIST_TAIL.format(
                bucket=_bucket_case("n_tokens"),
                tokens=(
                    f"SELECT lang, size({_TOKENS_SPARK}) AS n_tokens FROM {dv}"
                ),
            )
        )


ORACLE_LENGTH_HISTOGRAM = "WITH " + _LENGTH_HIST_TAIL.format(
    bucket=_bucket_case("n_tokens"),
    tokens=f"SELECT lang, len({_TOKENS_DUCK}) AS n_tokens FROM documents",
)


# ==========================================================================
# L2 — bigram counts (top-k)
# ==========================================================================
# Shared from `counts` down; the `bigrams` body differs per engine
# (Spark: shuffle-free slice fold; DuckDB: explode + window lead — the
# differential twin).
_BIGRAM_COUNT_TAIL = """
counts AS (
  SELECT bigram, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS doc_freq
  FROM bigrams GROUP BY bigram
),
topk AS (
  -- top-k FIRST (distributed TakeOrderedAndProject), THEN rank the <=k
  -- survivors — never a ROW_NUMBER window over the full distinct-bigram
  -- relation (that plan funnels everything through one partition).
  SELECT bigram, n, doc_freq
  FROM counts
  ORDER BY n DESC, bigram
  LIMIT {k}
)
SELECT bigram, n, doc_freq,
       ROW_NUMBER() OVER (ORDER BY n DESC, bigram) AS rank
FROM topk
ORDER BY rank
"""

_BIGRAM_TAIL = (
    """
bigrams AS (
  SELECT doc_id, tok || ' ' || next_tok AS bigram FROM (
    SELECT doc_id, tok, lead(tok, 1) OVER w AS next_tok
    FROM ({tokens})
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  ) WHERE next_tok IS NOT NULL
),"""
    + _BIGRAM_COUNT_TAIL
)


def bigram_counts(docs: DataFrame) -> DataFrame:
    """L2: global bigram frequencies, top-{k} — the 2-gram LM statistic
    (and the vocabulary-merge signal for BPE-style tokenizer training).
    The per-doc bigram list is a slice fold in one projection (every
    occurrence kept), so the only exchanges are the bounded bigram
    aggregation and the top-k — no per-doc ordering shuffle.""".format(
        k=BIGRAM_TOP_K
    )
    with scoped_temp_view(docs, "_llm_docs") as dv:
        bigrams = (
            "bigrams AS (SELECT doc_id, bigram FROM ("
            " SELECT doc_id, explode(CASE WHEN size(toks) >= 2"
            " THEN transform(sequence(1, size(toks) - 1),"
            " i -> concat_ws(' ', slice(toks, i, 2)))"
            " ELSE CAST(array() AS ARRAY<STRING>) END) AS bigram"
            f" FROM (SELECT doc_id, {_TOKENS_SPARK} AS toks FROM {dv}))),"
        )
        return docs.sparkSession.sql(
            "WITH " + bigrams + _BIGRAM_COUNT_TAIL.format(k=BIGRAM_TOP_K)
        )


ORACLE_BIGRAM_COUNTS = "WITH " + _BIGRAM_TAIL.format(
    tokens=(
        "SELECT doc_id,"
        f" generate_subscripts({_TOKENS_DUCK}, 1) AS pos,"
        f" unnest({_TOKENS_DUCK}) AS tok FROM documents"
    ),
    k=BIGRAM_TOP_K,
)


# ==========================================================================
# L2c — per-document bigram-LM surprisal (order-sensitive quality signal)
# ==========================================================================
# C6 scores documents under a unigram model — a bag-of-words signal blind
# to token ORDER. This is the same CCNet-style self-trained-LM filter one
# conditioning order up: P(w_i | w_{i-1}) with add-one smoothing over the
# corpus's own token vocabulary, so shuffled-word salad, keyword-stuffed
# spam, and template boilerplate (whose unigrams look normal but whose
# transitions are improbable / degenerate) separate from natural prose.
# Trained and scored on the same corpus (self-contained, like C6/C10), so
# every scored bigram is observed — smoothing only shapes the estimate.
#
# Determinism (the proven C6 recipe): the ln() argument is the exact
# small-integer rational (cb+1)/(cu+V), identical doubles in both
# engines; per-bigram NLL snaps to integer micro-nats BEFORE any
# cross-row SUM, so float accumulation order never differs; BIGINT casts
# pin DuckDB's HUGEINT sums.
#
# Scale shape: per-doc (doc_id, bigram) multiplicities aggregate FIRST
# (map-side combined; repeated bigrams in a doc collapse before any
# join), the bigram- and context-count models aggregate from that same
# relation, and the scoring joins key on bigram/ctx — document text
# never shuffles, and the only doc-keyed exchange is the final per-doc
# SUM. The context model and vocab scalar are vocab-sized (broadcast);
# the bigram model is the one genuinely large side and joins key-on-key.
_BIGRAM_LM_TAIL = """
bstats AS (
  SELECT doc_id, ctx, bigram, COUNT(*) AS m
  FROM bigrams GROUP BY doc_id, ctx, bigram
),
bcounts AS (
  SELECT bigram, CAST(SUM(m) AS BIGINT) AS cb FROM bstats GROUP BY bigram
),
ccounts AS (
  SELECT ctx, CAST(SUM(m) AS BIGINT) AS cu FROM bstats GROUP BY ctx
),
vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM tok),
scored AS (
  SELECT s.doc_id, s.m,
         CAST(FLOOR(-ln(CAST(c.cb + 1 AS DOUBLE)
                        / CAST(x.cu + v.v AS DOUBLE))
                    * 1000000.0 + 0.5) AS BIGINT) AS nll_micro
  FROM bstats s
  JOIN bcounts c ON c.bigram = s.bigram
  JOIN ccounts x ON x.ctx = s.ctx
  CROSS JOIN vocab v
),
per_doc AS (
  SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_bigrams,
         CAST(SUM(m * nll_micro) AS BIGINT) AS total_nll_micro
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_bigrams, total_nll_micro,
       FLOOR((CAST(total_nll_micro AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
              / 1000000.0) * 10000.0 + 0.5) / CAST(10000.0 AS DOUBLE)
         AS avg_nll,
       FLOOR((CAST(total_nll_micro AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
              / 1000000.0 / ln(2.0)) * 10000.0 + 0.5)
         / CAST(10000.0 AS DOUBLE) AS bits_per_bigram
FROM per_doc
ORDER BY doc_id
"""


def bigram_logprob(docs: DataFrame) -> DataFrame:
    """L2c: per-document average surprisal under the corpus's own
    add-one-smoothed bigram LM — C6's quality signal made
    order-sensitive (see the block comment for why that matters and for
    the exactness/scale invariants). Documents with fewer than two
    tokens carry no transition evidence and are excluded (both
    engines, by construction)."""
    with scoped_temp_view(docs, "_llm_docs") as dv:
        # Spark bigram body: the L2 shuffle-free slice fold, widened to
        # carry the left context explicitly (no split_part re-parsing
        # downstream).
        return docs.sparkSession.sql(
            f"""
WITH toks AS (SELECT doc_id, {_TOKENS_SPARK} AS tk FROM {dv}),
tok AS (SELECT doc_id, explode(tk) AS tok FROM toks),
bigrams AS (
  SELECT doc_id, b.ctx AS ctx, b.bigram AS bigram FROM (
    SELECT doc_id, explode(CASE WHEN size(tk) >= 2
      THEN transform(sequence(1, size(tk) - 1),
           i -> named_struct('ctx', element_at(tk, i),
                             'bigram', concat_ws(' ', slice(tk, i, 2))))
      ELSE CAST(array() AS ARRAY<STRUCT<ctx: STRING, bigram: STRING>>)
      END) AS b
    FROM toks)
),
"""
            + _BIGRAM_LM_TAIL
        )


ORACLE_BIGRAM_LOGPROB = (
    f"""
WITH tok AS (SELECT doc_id, unnest({_TOKENS_DUCK}) AS tok FROM documents),
postok AS (
  SELECT doc_id, generate_subscripts({_TOKENS_DUCK}, 1) AS pos,
         unnest({_TOKENS_DUCK}) AS tok
  FROM documents
),
bigrams AS (
  SELECT doc_id, tok AS ctx, tok || ' ' || next_tok AS bigram FROM (
    SELECT doc_id, tok,
           lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS next_tok
    FROM postok
  ) WHERE next_tok IS NOT NULL
),
"""
    + _BIGRAM_LM_TAIL
)


# ==========================================================================
# L2b — one BPE merge step (tokenizer-training primitive)
# ==========================================================================
#: One iteration of byte-pair-encoding merge learning (Sennrich et al.
#: 2016, arXiv:1508.07909), at the word level this corpus tokenizes at:
#: pick the most frequent adjacent pair, merge every (left-to-right
#: non-overlapping — exactly SQL replace() semantics) occurrence into
#: one token, report the corpus before/after. Real tokenizer training
#: is this step iterated; the per-step plan is what must scale.
def bpe_merge_step(docs: DataFrame) -> DataFrame:
    """L2b: one BPE merge step — the top adjacent pair (count ties break
    lexicographically), applied corpus-wide via canonicalized-text
    replace, with before/after token and vocabulary counts.

    Scale shape: the pair ranking is the L2 bigram aggregate (map-side
    combined, distributed top-1); the 1-row winner cross-joins
    (broadcast) into a pure replace/split projection; the after-stats
    are one more token aggregate. No windows, no Python."""
    with scoped_temp_view(docs, "_llm_docs") as dv:
        return docs.sparkSession.sql(f"""
WITH toks AS (SELECT doc_id, {_TOKENS_SPARK} AS tk FROM {dv}),
bigrams AS (
  SELECT explode(CASE WHEN size(tk) >= 2
    THEN transform(sequence(1, size(tk) - 1),
                   i -> concat_ws(' ', slice(tk, i, 2)))
    ELSE CAST(array() AS ARRAY<STRING>) END) AS bigram
  FROM toks
),
top_pair AS (
  SELECT bigram, n FROM (
    SELECT bigram, COUNT(*) AS n FROM bigrams GROUP BY bigram
    ORDER BY n DESC, bigram LIMIT 1
  )
),
merged AS (
  -- boundary-anchored replace: tokens join with DOUBLE spaces and the
  -- text gets one-space padding, the pattern ' a  b ' consumes one
  -- space per side and leaves one, so (1) a match can never start or
  -- end mid-token ('ca b' does not contain ' a  b ') and (2) adjacent
  -- occurrences 'a b a b' still all merge. The joiner is chr(31)
  -- (unit separator) — chosen because natural-language corpora do not
  -- contain it, so merged types do not collide with pre-existing
  -- tokens the way 'a_b' would on an underscore-bearing corpus. This
  -- is a corpus assumption, not a guarantee: a source text that
  -- already contains chr(31) inside a token would conflate that token
  -- with the merged type in n_types_after (both engines agree, so no
  -- parity risk — only the type count's interpretation).
  SELECT t.doc_id,
         filter(split(replace(concat(' ', concat_ws('  ', t.tk), ' '),
                              concat(' ', replace(p.bigram, ' ', '  '), ' '),
                              concat(' ', replace(p.bigram, ' ', chr(31)), ' ')),
                      ' '),
                x -> x <> '') AS mk
  FROM toks t CROSS JOIN top_pair p
),
before_stats AS (
  SELECT CAST(COALESCE(SUM(size(tk)), 0) AS BIGINT) AS n_tokens_before
  FROM toks
),
before_types AS (
  SELECT COUNT(DISTINCT tok) AS n_types_before
  FROM (SELECT explode(tk) AS tok FROM toks)
),
after_stats AS (
  SELECT CAST(COALESCE(SUM(size(mk)), 0) AS BIGINT) AS n_tokens_after
  FROM merged
),
after_types AS (
  SELECT COUNT(DISTINCT tok) AS n_types_after
  FROM (SELECT explode(mk) AS tok FROM merged)
)
SELECT p.bigram AS merged_pair,
       replace(p.bigram, ' ', chr(31)) AS new_token,
       p.n AS pair_count,
       b.n_tokens_before, a.n_tokens_after,
       b.n_tokens_before - a.n_tokens_after AS merges_applied,
       bt.n_types_before, at.n_types_after
FROM top_pair p
CROSS JOIN before_stats b CROSS JOIN after_stats a
CROSS JOIN before_types bt CROSS JOIN after_types at
""")


ORACLE_BPE_MERGE_STEP = f"""
WITH toks AS (SELECT doc_id, {_TOKENS_DUCK} AS tk FROM documents),
bigrams AS (
  SELECT unnest(CASE WHEN len(tk) >= 2
    THEN list_transform(range(2, len(tk) + 1),
                        i -> tk[i - 1] || ' ' || tk[i])
    ELSE [] END) AS bigram
  FROM toks
),
top_pair AS (
  SELECT bigram, n FROM (
    SELECT bigram, COUNT(*) AS n FROM bigrams GROUP BY bigram
    ORDER BY n DESC, bigram LIMIT 1
  )
),
merged AS (
  -- boundary-anchored double-space replace + chr(31) joiner: see the
  -- Spark twin's comment
  SELECT t.doc_id,
         list_filter(string_split(replace(' ' || array_to_string(t.tk, '  ') || ' ',
                                          ' ' || replace(p.bigram, ' ', '  ') || ' ',
                                          ' ' || replace(p.bigram, ' ', chr(31)) || ' '),
                                  ' '), x -> x <> '') AS mk
  FROM toks t CROSS JOIN top_pair p
),
before_stats AS (
  SELECT CAST(COALESCE(SUM(len(tk)), 0) AS BIGINT) AS n_tokens_before
  FROM toks
),
before_types AS (
  SELECT COUNT(DISTINCT tok) AS n_types_before
  FROM (SELECT unnest(tk) AS tok FROM toks)
),
after_stats AS (
  SELECT CAST(COALESCE(SUM(len(mk)), 0) AS BIGINT) AS n_tokens_after
  FROM merged
),
after_types AS (
  SELECT COUNT(DISTINCT tok) AS n_types_after
  FROM (SELECT unnest(mk) AS tok FROM merged)
)
SELECT p.bigram AS merged_pair,
       replace(p.bigram, ' ', chr(31)) AS new_token,
       p.n AS pair_count,
       b.n_tokens_before, a.n_tokens_after,
       b.n_tokens_before - a.n_tokens_after AS merges_applied,
       bt.n_types_before, at.n_types_after
FROM top_pair p
CROSS JOIN before_stats b CROSS JOIN after_stats a
CROSS JOIN before_types bt CROSS JOIN after_types at
"""


# ==========================================================================
# L2c — BPE tokenizer TRAINING (word-table loop; corpus touched once)
# ==========================================================================
#: Real BPE training (Sennrich et al. 2016, arXiv:1508.07909 §3)
#: iterates the merge step V times — but over the (word, count)
#: relation, NOT the corpus: the word table is vocabulary-sized and
#: corpus-independent, so at 100 TB the corpus is scanned exactly once
#: (the initial word count) and every one of the k merge iterations is
#: a pair aggregate + a projection over that tiny persisted relation.
#: L2b (bpe_merge_step) remains the per-document primitive for applying
#: a learned merge to the corpus itself. Words are split into
#: character symbols plus the paper's '</w>' end-of-word marker (same
#: corpus assumption as L2b's chr(31) joiner: source tokens are taken
#: not to contain the marker — merged types concatenate, which is the
#: algorithm's intent). Ties break lexicographically in both engines.
BPE_TRAIN_MERGES = 8

#: adjacent symbol pairs of the space-joined symbol string
_BPE_PAIRS_SPARK = """CASE WHEN size(split(sym, ' ')) >= 2
 THEN transform(sequence(1, size(split(sym, ' ')) - 1),
                j -> concat_ws(' ', slice(split(sym, ' '), j, 2)))
 ELSE CAST(array() AS ARRAY<STRING>) END"""


def _merge_apply_expr(col, pair: str):
    """Apply one learned merge to a space-joined symbol-string column:
    L2b's boundary-anchored double-space replace, then re-normalize to
    single-space joining so the next merge's boundaries hold. The merged
    type is the concatenation (the algorithm's intent)."""
    doubled = F.concat(
        F.lit(" "), F.replace(col, F.lit(" "), F.lit("  ")), F.lit(" ")
    )
    replaced = F.replace(
        doubled,
        F.lit(" " + pair.replace(" ", "  ") + " "),
        F.lit(" " + pair.replace(" ", "") + " "),
    )
    return F.array_join(
        F.filter(F.split(replaced, " "), lambda x: x != F.lit("")), " "
    )


def _bpe_pair_ranking(wt: DataFrame, width: int | None = None) -> DataFrame:
    """One training iteration's pair ranking: distributed weighted
    pair-count aggregate + global top-1 (plans as
    TakeOrderedAndProject, plan-gated — never a single-partition
    window).

    ``width`` (r14, guide §2.2): when given, the aggregation's exchange
    is pinned to that many partitions via an explicit
    ``repartition(width, pair)`` the groupBy reuses (hashpartitioning on
    the same key → one exchange, same as before, just size-derived
    instead of the session shuffle constant). The training loop passes
    its vocabulary-derived chain width so each of the k sequential
    ranking jobs schedules tasks proportional to the data, not
    ``spark.sql.shuffle.partitions`` near-empty ones.

    ``width == 1`` (r14 second pass, guide §2.4 "remove shuffles
    outright"): a one-partition chain needs no exchange at all —
    ``coalesce(1)`` reports ``SinglePartition``, which satisfies the
    groupBy's clustered distribution, so the whole ranking (partial agg,
    final agg, top-1) plans as ONE stage instead of two. Each of the k
    sequential iterations saves the second stage's shuffle round trip
    (measured interleaved at sf0.1: median 0.294 → 0.257 s/iteration;
    plan: Exchange SinglePartition → Coalesce 1, one codegen span).
    Results are bit-identical — same aggregate, same deterministic
    (n DESC, pair) tie-break, exact TakeOrderedAndProject either way."""
    exploded = wt.select(
        "cnt", F.explode(F.expr(_BPE_PAIRS_SPARK)).alias("pair")
    )
    if width == 1:
        exploded = exploded.coalesce(1)
    elif width is not None:
        exploded = exploded.repartition(width, "pair")
    return (
        exploded.groupBy("pair")
        .agg(F.sum("cnt").cast("long").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(1)
    )


def _bpe_word_table(docs: DataFrame) -> DataFrame:
    """The single corpus scan: (word, cnt) aggregate, words split into
    character symbols + the '</w>' end-of-word marker."""
    return (
        docs.select(F.explode(F.expr(_TOKENS_SPARK)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.concat(
                F.regexp_replace("word", "(?s)(.)", "$1 "), F.lit("</w>")
            ).alias("sym"),
            "cnt",
        )
    )


# learned merges per input-plan hash: training is deterministic, so a
# repeated call (the /corpus/fertility endpoint, bpe_train + fertility
# in one session) reuses the k-iteration result instead of re-running
# ~10 Spark jobs. Invalidated by dedup.clear_materialized_caches()
# (registered clearer below) — same contract as every derived cache.
_BPE_MERGE_CACHE: dict[int, list[tuple[int, str, str, int]]] = {}
# dict guard + one build lock per input key (the _materialized_df
# pattern): two callers training the SAME corpus single-flight, but a
# multi-job training run no longer serializes callers on a DIFFERENT
# corpus — the global-lock shape made a cold /corpus/fertility block
# every other BPE caller for the whole run
_BPE_MERGE_LOCK = _threading.Lock()
_BPE_KEY_LOCKS: dict[int, _threading.Lock] = {}


#: lineage-truncation cadence for the training loop: the rewritten word
#: table is localCheckpoint'ed (plan cut to a LogicalRDD over cached
#: blocks) every N merges, so at a production vocabulary (k ≈ 32,000)
#: the logical plan stays ≤ N projections deep instead of growing one
#: per merge. Between checkpoints the chain is deliberately UNPERSISTED:
#: each ranking re-applies ≤ N cheap vocab-sized projections atop the
#: cached anchor (one Spark job per iteration). Persisting every
#: iteration — the previous shape — is the trap: each InMemoryRelation's
#: plan STRING embeds its cached predecessor's, doubling the rendered
#: plan per merge until AQE's explain OOMs the driver (measured: a 23 MB
#: plan string by merge 14).
BPE_CHECKPOINT_EVERY = 16

#: words per partition of the training chain's anchors — sized so one
#: partition holds a few MB of symbol strings (~50 B/row); the chain
#: width is derived from the measured vocabulary size, never from the
#: session's shuffle-partition constant (see ``_train_merges``)
_BPE_WORDS_PER_PART = 1_000_000

#: vocabulary cap for the driver-local training loop (r14, guide §1
#: "decide with small rows" / §5 bounded driver work): a word table at
#: or below this row count is collected ONCE (≤ ~1 MB of symbol
#: strings — well under broadcast-relation scale) and the k merge
#: iterations run in plain Python, replacing k sequential (job
#: submission + 1-task stage + collect) round trips — pure scheduling
#: floor at this vocabulary size — with an in-memory loop. Larger
#: vocabularies keep the distributed chain unchanged.
#:
#: The caps are MEASURED, not guessed (re-measured r15 after the
#: incremental pair-count rewrite — see ``_train_merges_local``): the
#: local loop's per-iteration cost is O(affected symbols) + an
#: O(distinct pairs) argmax — 7 ms/iteration at 10 K words, 88 ms at
#: 100 K, 314 ms at 300 K (8.6x the r14 full-recount loop at 100 K),
#: i.e. breakeven with the ~150-250 ms distributed per-iteration stage
#: floor lands near ~170-200 K words of ordinary shape. 65,536 keeps a
#: ~3x margin. Cost tracks SYMBOL MASS, not row count (ADVICE r14:
#: 8,192 words of 100-char symbols cost 403 ms/iteration at 1.67 M
#: chars while 65,536 short words cost 57 ms at 1.31 M), so the gate
#: also bounds total symbol chars: at 1 M chars even the worst
#: adversarial long-word shape measures ≈ the distributed floor
#: (~240 ms/iteration), and typical corpora run 4x under it. Results
#: are bit-identical by construction (exact integer counts; Python str
#: comparison == Spark's UTF8String binary order, both code-point
#: order; the greedy left-to-right merge equals the boundary-anchored
#: double-space replace) and PROVEN by the differential + fuzz pins in
#: tests/test_plans.py::test_bpe_local_trainer_matches_distributed.
#: Set to -1 (e.g. via monkeypatch) to force the distributed loop.
_BPE_LOCAL_TRAIN_MAX_WORDS = 65_536
_BPE_LOCAL_TRAIN_MAX_SYM_CHARS = 1_000_000


def _train_merges_local(
    rows: list[tuple[str, int]], k: int
) -> list[tuple[int, str, str, int]]:
    """Driver-local twin of the distributed training loop: identical
    greedy BPE over the collected (sym, cnt) word table — top pair by
    (count DESC, pair-string ASC), the ``_bpe_pair_ranking`` tie-break,
    merge applied left-to-right non-overlapping (the token-list
    equivalent of ``_merge_apply_expr``'s boundary replace).

    INCREMENTAL (r15, VERDICT r14 #4): only words containing the merged
    pair change between iterations, so the weighted pair counts are
    maintained by exact integer deltas over a pair→words index instead
    of a full O(total symbols) recount per iteration — per-iteration
    cost drops to O(affected words × their length) + one O(distinct
    pairs) argmax scan. Counts are identical to the recount at every
    step by construction (deltas are exact; entries are dropped at zero,
    matching the recount's absence; the index may hold stale word ids,
    which the per-word pair check skips harmlessly). Differential + fuzz
    pinned against the distributed loop in
    tests/test_plans.py::test_bpe_local_trainer_matches_distributed."""
    words: list[list] = [[sym.split(" "), int(cnt)] for sym, cnt in rows]
    counts: dict[tuple[str, str], int] = {}
    index: dict[tuple[str, str], set[int]] = {}
    for wi, (toks, cnt) in enumerate(words):
        for i in range(len(toks) - 1):
            p = (toks[i], toks[i + 1])
            counts[p] = counts.get(p, 0) + cnt
            index.setdefault(p, set()).add(wi)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, k + 1):
        if not counts:
            break
        best_ps, best_n = None, None
        for (a, b), n in counts.items():
            ps = a + " " + b
            if (
                best_n is None
                or n > best_n
                or (n == best_n and ps < best_ps)
            ):
                best_ps, best_n, best_ab = ps, n, (a, b)
        merges.append((rank, best_ps, best_ps.replace(" ", ""), best_n))
        if rank == k:
            break  # the k-th rewrite is never read by anything
        a, b = best_ab
        new_tok = a + b
        # a later merge can RE-CREATE this pair (a merged token equal to
        # `b` landing right of an `a`), so pop — the generic new-pair
        # branch below rebuilds the entry if that ever happens
        affected = index.pop((a, b), set())
        for wi in sorted(affected):
            toks, cnt = words[wi]
            old_pairs: dict[tuple[str, str], int] = {}
            for i in range(len(toks) - 1):
                p = (toks[i], toks[i + 1])
                old_pairs[p] = old_pairs.get(p, 0) + 1
            if (a, b) not in old_pairs:
                continue  # stale index entry — word was rewritten past it
            n_toks = len(toks)
            i, out = 0, []
            while i < n_toks:
                if i + 1 < n_toks and toks[i] == a and toks[i + 1] == b:
                    out.append(new_tok)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            words[wi][0] = out
            new_pairs: dict[tuple[str, str], int] = {}
            for i in range(len(out) - 1):
                p = (out[i], out[i + 1])
                new_pairs[p] = new_pairs.get(p, 0) + 1
            for p, c_old in old_pairs.items():
                d = new_pairs.get(p, 0) - c_old
                if d:
                    nn = counts.get(p, 0) + d * cnt
                    if nn:
                        counts[p] = nn
                    else:
                        counts.pop(p, None)
            for p, c_new in new_pairs.items():
                if p not in old_pairs:
                    counts[p] = counts.get(p, 0) + c_new * cnt
                if p != (a, b):
                    index.setdefault(p, set()).add(wi)
    return merges


def _retire_anchor(df: DataFrame) -> None:
    """Free a retired anchor's storage NOW. ``Dataset.unpersist()`` is a
    no-op for a localCheckpoint'ed dataset — its blocks belong to the
    checkpointed RDD, not the CacheManager — so retired checkpoint
    anchors would otherwise linger until JVM GC + ContextCleaner reap
    them (measured: 2 dead vocab-sized RDDs still cached after a k=64
    run; ~2000 would accumulate at a production k). Reaches through the
    LogicalRDD plan node for the backing RDD; internal API, so failures
    fall back to the (lazy but correct) ContextCleaner path."""
    df.unpersist(blocking=True)  # the plain-persist case (initial table)
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            # blocking: a non-blocking release races any immediate
            # storage accounting (and the k64 regression test) — the
            # blocks must be gone when the next iteration allocates
            plan.rdd().unpersist(True)
    except Exception:
        pass  # ContextCleaner fallback


def _train_merges(docs: DataFrame, k: int) -> list[tuple[int, str, str, int]]:
    """The k-iteration training loop body (uncached — callers hold the
    cache lock). Bounded-lineage by construction (see
    ``BPE_CHECKPOINT_EVERY``): exactly one persisted/checkpointed
    anchor is alive at any time, the corpus is scanned once (the anchor
    chain starts at the persisted word table), and the final iteration
    records its top pair without building the never-read k-th rewrite.
    ``localCheckpoint`` blocks are executor-local; on a cluster where
    executor loss during training matters, swap for ``checkpoint()``
    against reliable storage — the cadence logic is unchanged.

    Chain width (r14, guide §2.2/§6): the vocabulary relation is tiny
    relative to the corpus (tens of rows on the synthetic corpora, low
    millions of distinct words at web scale) but its aggregate
    materializes at the session shuffle width, and AQE cannot coalesce
    a persisted plan (``canChangeCachedPlanOutputPartitioning`` is off)
    — so every one of the k sequential ranking jobs scheduled a
    full-width stage of near-empty tasks (measured: 31 words across 32
    partitions at sf0.1; per-iteration cost was pure task-scheduling
    floor). The chain is re-anchored on a localCheckpoint coalesced to
    ``_BPE_WORDS_PER_PART`` words per partition (a few MB of symbol
    strings), so steady-state iterations schedule size-derived task
    counts at ANY corpus scale — 1 task on a laptop-sized vocabulary,
    hundreds on a 100 TB corpus's — instead of the session constant."""
    spark = docs.sparkSession
    wt0 = _bpe_word_table(docs).persist()
    # one counting job either way: row count drives the chain width,
    # symbol mass guards the local path (ADVICE r14 — the local loop's
    # cost is O(symbols), so a row-count gate alone admits adversarial
    # long-word tables far past the measured breakeven)
    stats = wt0.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.length("sym")), F.lit(0)).alias("chars"),
    ).first()
    n_words, sym_chars = int(stats["n"]), int(stats["chars"])
    if (
        n_words <= _BPE_LOCAL_TRAIN_MAX_WORDS
        and sym_chars <= _BPE_LOCAL_TRAIN_MAX_SYM_CHARS
    ):
        # small vocabulary: one bounded collect (≤ ~1-2 MB), then the k
        # sequential merges run driver-local — see
        # _BPE_LOCAL_TRAIN_MAX_WORDS for the measured breakeven and
        # the equivalence argument
        try:
            rows = [(r["sym"], r["cnt"]) for r in wt0.collect()]
        finally:
            wt0.unpersist(blocking=True)
        return _train_merges_local(rows, k)
    width = max(
        1,
        min(
            int(spark.sparkContext.defaultParallelism),
            (n_words + _BPE_WORDS_PER_PART - 1) // _BPE_WORDS_PER_PART,
        ),
    )
    wt = durable_checkpoint(wt0.coalesce(width))
    wt0.unpersist(blocking=True)
    # AQE off for the k tiny sequential jobs (r14, guide §1.2 step 3
    # after steps 1-2 are done; measured): each ranking is a
    # vocabulary-sized two-stage job whose reduce side is pinned to the
    # data-derived ``width`` above — there is nothing for AQE to adapt,
    # but its per-stage materialize→re-optimize round trips dominate a
    # sub-second job (measured ~2× per-iteration overhead at sf0.1,
    # ×k=64 sequential iterations). Planning-only: results are
    # bit-identical (pinned by the oracle twins), and the corpus-scale
    # word-table aggregate above this line still runs WITH AQE.
    #
    # SCOPED (r15, VERDICT r14 #7): the chain is re-bound to a cloned
    # session whose conf carries the override — the anchor is a
    # LogicalRDD, so the re-analysis is exact — and the SHARED session
    # conf is never touched; a concurrent query planning mid-training
    # keeps its AQE. Only when the private-API rebind is unavailable
    # does the loop fall back to the r14 shared-conf toggle (restored
    # in ``finally``; the trainer holds the per-corpus build lock).
    from ..functions.confscope import rebind_with_conf

    scoped = rebind_with_conf(
        wt, {"spark.sql.adaptive.enabled": "false"}
    )
    conf, prev_aqe = None, None
    if scoped is not None:
        wt = scoped
    else:
        conf = spark.conf
        prev_aqe = conf.get("spark.sql.adaptive.enabled", "true")
        conf.set("spark.sql.adaptive.enabled", "false")
    anchor = wt  # the one persisted/checkpointed base the chain hangs off
    try:
        merges: list[tuple[int, str, str, int]] = []
        for rank in range(1, k + 1):
            top = _bpe_pair_ranking(wt, width).collect()
            if not top:
                break
            pair, n = top[0]["pair"], top[0]["n"]
            merges.append((rank, pair, pair.replace(" ", ""), n))
            if rank == k:
                break  # the k-th rewrite is never read by anything
            merged = wt.select(
                _merge_apply_expr(F.col("sym"), pair).alias("sym"), "cnt"
            )
            if rank % BPE_CHECKPOINT_EVERY == 0:
                merged = durable_checkpoint(merged)
                _retire_anchor(anchor)
                anchor = merged
            wt = merged
        return merges
    finally:
        if conf is not None:
            conf.set("spark.sql.adaptive.enabled", prev_aqe)
        _retire_anchor(anchor)


def _learned_merges(docs: DataFrame) -> list[tuple[int, str, str, int]]:
    key = docs.semanticHash()
    with _BPE_MERGE_LOCK:
        if key in _BPE_MERGE_CACHE:
            return _BPE_MERGE_CACHE[key]
        lock = _BPE_KEY_LOCKS.setdefault(key, _threading.Lock())
    with lock:
        # double-check: the loser of a same-corpus race finds the
        # winner's result here instead of retraining
        with _BPE_MERGE_LOCK:
            if key in _BPE_MERGE_CACHE:
                return _BPE_MERGE_CACHE[key]
        merges = _train_merges(docs, BPE_TRAIN_MERGES)
        with _BPE_MERGE_LOCK:
            _BPE_MERGE_CACHE.clear()  # one corpus at a time (same as _SHINGLE_CACHE)
            _BPE_MERGE_CACHE[key] = merges
        return merges


def _clear_bpe_cache() -> None:
    # takes every key's build lock, not just the dict guard: a clear
    # racing an in-flight training run must WAIT for it and evict its
    # (stale-input) result, not return early — the same contract
    # clear_materialized_caches keeps for slot locks. Loops until no
    # UNSEEN key lock remains: a trainer registers its lock (under the
    # dict guard) before reading any data, so any run whose input could
    # predate this clear is visible to some iteration and waited out;
    # a single snapshot would miss locks registered just after it.
    seen: set[int] = set()
    while True:
        with _BPE_MERGE_LOCK:
            pending = [
                (k, lk) for k, lk in _BPE_KEY_LOCKS.items() if k not in seen
            ]
            if not pending:
                _BPE_MERGE_CACHE.clear()
                return
        for k, lk in pending:
            seen.add(k)
            with lk:
                with _BPE_MERGE_LOCK:
                    _BPE_MERGE_CACHE.pop(k, None)
                    # prune the lock entry too: a long-lived REST session
                    # serving many distinct corpora would otherwise grow
                    # this dict without bound. Safe under _BPE_MERGE_LOCK
                    # — setdefault re-creates on demand, and a concurrent
                    # trainer holding the OLD lock object still
                    # single-flights its own run (worst case one extra
                    # training for a key cleared mid-race, never a wrong
                    # result).
                    if _BPE_KEY_LOCKS.get(k) is lk:
                        _BPE_KEY_LOCKS.pop(k, None)


def _register_bpe_clearer() -> None:
    from .dedup import _EXTRA_CACHE_CLEARERS

    if _clear_bpe_cache not in _EXTRA_CACHE_CLEARERS:
        _EXTRA_CACHE_CLEARERS.append(_clear_bpe_cache)


_register_bpe_clearer()


def bpe_train(docs: DataFrame) -> DataFrame:
    """L2c: k BPE merge iterations over the (word, count) relation —
    the scale-correct training loop (one corpus scan total).

    Scale shape: corpus → (word, cnt) is one map-side-combined
    aggregate; each iteration is ONE Spark job — a distributed
    pair-count aggregate (TakeOrderedAndProject top-1) over ≤
    ``BPE_CHECKPOINT_EVERY`` merge projections applied atop the
    persisted anchor, with a localCheckpoint truncating lineage at that
    cadence (bounded plan depth at any k; pinned at k=64 by test). The
    per-iteration single-row collect is the algorithm's inherent
    sequential dependency (k rows total cross the driver — merge i+1's
    counts depend on merge i's rewrite)."""
    return docs.sparkSession.createDataFrame(
        _learned_merges(docs),
        "merge_rank bigint, pair string, new_token string, "
        "pair_count bigint",
    )


def bpe_train_k(docs: DataFrame, k: int) -> DataFrame:
    """Uncached L2c training at an arbitrary merge count — the bench /
    scale entry point for demonstrating the loop at larger k (the
    registered operator stays at ``BPE_TRAIN_MERGES`` for the oracle
    twin; result is prefix-stable with it by greedy determinism)."""
    return docs.sparkSession.createDataFrame(
        _train_merges(docs, k),
        "merge_rank bigint, pair string, new_token string, "
        "pair_count bigint",
    )


def _bpe_chain_parts(k: int, final_merge: bool = False) -> list[str]:
    """The unrolled k-step training chain as CTE fragments; each
    wt{i}/top{i} is MATERIALIZED (each is referenced twice — by the next
    pair count and the next rewrite / the final union), which keeps the
    unrolled plan linear in k. ``final_merge`` also applies top{k-1}
    (producing wt{k}, the fully-merged word table fertility reads).
    The merge step is a LEFT JOIN so a degenerate corpus whose pair
    supply dries up early keeps its words with symbols unchanged — the
    exact twin of the Spark loop's break."""
    sym0 = "regexp_replace(word, '(?s)(.)', '\\1 ', 'g') || '</w>'"
    parts = [
        "words AS MATERIALIZED (SELECT tok AS word, COUNT(*) AS cnt FROM "
        f"(SELECT unnest({_TOKENS_DUCK}) AS tok FROM documents) GROUP BY tok)",
        f"wt0 AS MATERIALIZED (SELECT word, {sym0} AS sym, cnt FROM words)",
    ]
    pairs_tmpl = (
        "pairs{i} AS (SELECT pair, CAST(SUM(cnt) AS BIGINT) AS n FROM "
        "(SELECT cnt, unnest(CASE WHEN len(sp) >= 2 "
        "THEN list_transform(generate_series(1, len(sp) - 1), "
        "j -> sp[j] || ' ' || sp[j + 1]) "
        "ELSE [] END) AS pair "
        "FROM (SELECT cnt, string_split(sym, ' ') AS sp FROM wt{i})) "
        "GROUP BY pair)"
    )
    top_tmpl = (
        "top{i} AS MATERIALIZED (SELECT pair, n FROM pairs{i} "
        "ORDER BY n DESC, pair LIMIT 1)"
    )
    merge_tmpl = (
        "wt{j} AS MATERIALIZED (SELECT w.word, "
        "CASE WHEN t.pair IS NULL THEN w.sym ELSE "
        "array_to_string(list_filter("
        "string_split(replace(' ' || replace(w.sym, ' ', '  ') || ' ', "
        "' ' || replace(t.pair, ' ', '  ') || ' ', "
        "' ' || replace(t.pair, ' ', '') || ' '), ' '), x -> x <> ''), ' ') "
        "END AS sym, w.cnt FROM wt{i} w LEFT JOIN top{i} t ON TRUE)"
    )
    for i in range(k):
        parts.append(pairs_tmpl.format(i=i))
        parts.append(top_tmpl.format(i=i))
        if i < k - 1 or final_merge:
            parts.append(merge_tmpl.format(i=i, j=i + 1))
    return parts


def _bpe_train_oracle(k: int) -> str:
    unions = " UNION ALL ".join(
        f"SELECT CAST({i + 1} AS BIGINT) AS merge_rank, pair, "
        f"replace(pair, ' ', '') AS new_token, n AS pair_count FROM top{i}"
        for i in range(k)
    )
    return (
        "WITH "
        + ",\n".join(_bpe_chain_parts(k))
        + f"\nSELECT * FROM ({unions}) ORDER BY merge_rank"
    )


ORACLE_BPE_TRAIN = _bpe_train_oracle(BPE_TRAIN_MERGES)


# ==========================================================================
# L2d — tokenizer fertility under the trained BPE vocabulary
# ==========================================================================
def bpe_fertility(docs: DataFrame) -> DataFrame:
    """L2d: per-source tokenizer fertility — subword tokens per
    whitespace word under L2c's trained merges (the standard
    tokenizer-quality metric a mix dashboard tracks per domain: high
    fertility = the vocab fits that source badly, its effective context
    shrinks and its per-byte training cost grows).

    Scale shape: training runs once (L2c, corpus scanned once); the k
    learned merges are then applied to the DISTINCT-WORD relation only
    (vocabulary-sized — never per occurrence), and the corpus-side cost
    is two map-side-combined aggregates: (source, word) occurrence
    counts joined to the word table (join bounded by vocab x sources),
    and a per-source distinct-doc count. No hot-word skew: frequent
    words aggregate before the join, never fan out through it."""
    merges = [m[1] for m in _learned_merges(docs)]
    vocab = docs.select(F.explode(F.expr(_TOKENS_SPARK)).alias("word")).distinct()
    col = F.concat(F.regexp_replace("word", "(?s)(.)", "$1 "), F.lit("</w>"))
    for pair in merges:
        col = _merge_apply_expr(col, pair)
    wn = vocab.select("word", F.size(F.split(col, " ")).alias("n_sub"))
    tok = docs.select(
        "doc_id", "source", F.explode(F.expr(_TOKENS_SPARK)).alias("word")
    )
    per_word = (
        tok.groupBy("source", "word")
        .agg(F.count("*").alias("n_occ"))
        .join(wn, "word")
        .groupBy("source")
        .agg(
            F.sum("n_occ").cast("long").alias("n_words"),
            F.sum(F.col("n_occ") * F.col("n_sub")).cast("long").alias("n_subwords"),
        )
        .alias("pw")
    )
    n_docs = (
        tok.groupBy("source")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .alias("nd")
    )
    # eqNullSafe: a NULL source is a real group (unattributed crawl) and
    # must join with itself, not vanish
    return (
        n_docs.join(
            per_word, F.col("nd.source").eqNullSafe(F.col("pw.source"))
        )
        .select(
            F.col("nd.source").alias("source"),
            "n_docs",
            "n_words",
            "n_subwords",
            (
                F.floor(
                    (F.col("n_subwords").cast("double") / F.col("n_words"))
                    * 10000.0
                    + 0.5
                )
                / 10000.0
            ).alias("fertility"),
        )
        .orderBy("source")
    )


ORACLE_BPE_FERTILITY = (
    "WITH "
    + ",\n".join(_bpe_chain_parts(BPE_TRAIN_MERGES, final_merge=True))
    + f""",
final AS (SELECT word, len(string_split(sym, ' ')) AS n_sub
          FROM wt{BPE_TRAIN_MERGES}),
tok AS (SELECT doc_id, source, unnest({_TOKENS_DUCK}) AS word
        FROM documents)
SELECT t.source,
       CAST(COUNT(DISTINCT t.doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(f.n_sub) AS BIGINT) AS n_subwords,
       FLOOR((CAST(SUM(f.n_sub) AS DOUBLE) / COUNT(*)) * 10000.0 + 0.5)
         / CAST(10000.0 AS DOUBLE) AS fertility
FROM tok t JOIN final f ON t.word = f.word
GROUP BY t.source
ORDER BY t.source
"""
)


def bpe_encode(docs: DataFrame) -> DataFrame:
    """L2e: the tokenizer APPLIED — per-document subword token count
    under L2c's trained merges, with the doc's expansion ratio. This is
    the number every budget decision actually needs (context packing,
    epoch sizing, per-source cost) — whitespace counts under-estimate it
    by exactly the fertility factor, non-uniformly across documents.

    Scale shape: same as L2d with the final aggregate keyed by doc_id
    instead of source — merges applied to the DISTINCT-word relation
    only (vocabulary-sized), per-(doc, word) occurrence counts aggregate
    BEFORE the vocab join (no hot-word fan-out), then one doc_id
    re-aggregate. Token-less documents emit no row (no words to
    encode), identically in both engines."""
    return bpe_encode_frozen(docs, [m[1] for m in _learned_merges(docs)])


def bpe_encode_frozen(docs: DataFrame, merges: list[str]) -> DataFrame:
    """L2e's encode body under an explicit FROZEN merge list — the
    production tokenizer contract (train once, apply everywhere):
    :func:`bpe_encode` passes the merges it trains on its own corpus;
    :func:`..streaming.ingest.stream_bpe_encode` passes a
    reference-corpus tokenizer to each arriving micro-batch, the same
    frozen-artifact split as the ANN index's codebook."""
    vocab = docs.select(F.explode(F.expr(_TOKENS_SPARK)).alias("word")).distinct()
    col = F.concat(F.regexp_replace("word", "(?s)(.)", "$1 "), F.lit("</w>"))
    for pair in merges:
        col = _merge_apply_expr(col, pair)
    wn = vocab.select("word", F.size(F.split(col, " ")).alias("n_sub"))
    tok = docs.select("doc_id", F.explode(F.expr(_TOKENS_SPARK)).alias("word"))
    return (
        tok.groupBy("doc_id", "word")
        .agg(F.count("*").alias("n_occ"))
        .join(wn, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").cast("long").alias("n_words"),
            F.sum(F.col("n_occ") * F.col("n_sub")).cast("long").alias(
                "n_bpe_tokens"
            ),
        )
        .select(
            "doc_id",
            "n_words",
            "n_bpe_tokens",
            (
                F.floor(
                    (F.col("n_bpe_tokens").cast("double") / F.col("n_words"))
                    * 10000.0
                    + 0.5
                )
                / 10000.0
            ).alias("expansion"),
        )
        .orderBy("doc_id")
    )


ORACLE_BPE_ENCODE = (
    "WITH "
    + ",\n".join(_bpe_chain_parts(BPE_TRAIN_MERGES, final_merge=True))
    + f""",
final AS (SELECT word, len(string_split(sym, ' ')) AS n_sub
          FROM wt{BPE_TRAIN_MERGES}),
tok AS (SELECT doc_id, unnest({_TOKENS_DUCK}) AS word FROM documents)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(f.n_sub) AS BIGINT) AS n_bpe_tokens,
       FLOOR((CAST(SUM(f.n_sub) AS DOUBLE) / COUNT(*)) * 10000.0 + 0.5)
         / CAST(10000.0 AS DOUBLE) AS expansion
FROM tok t JOIN final f ON t.word = f.word
GROUP BY t.doc_id
ORDER BY t.doc_id
"""
)


# ==========================================================================
# L2g — tokenizer sizing curve (vocab size vs fertility per merge rank)
# ==========================================================================
#: The decision curve behind "how many merges is this corpus worth?":
#: at every merge rank k = 0..{K}, the tokenizer's observed vocabulary
#: size (distinct subword types across the word table) and the corpus
#: token count / fertility it buys. Vocab grows ~1 type per merge while
#: fertility falls with diminishing returns — where the curve flattens
#: is the vocab size a budget-conscious tokenizer stops at (the
#: empirical shape behind every "vocab size" hyperparameter sweep in
#: the BPE literature, Sennrich et al. 2016 §5).
#:
#: One chain answers all ranks: the k learned merges are applied
#: CUMULATIVELY to the DISTINCT-word relation, each rank contributing a
#: vocab-sized symbol explode to one union — the corpus is scanned once
#: (word counts) + once for training; ranks the training ran dry before
#: repeat the last word table unchanged (the oracle's LEFT JOIN no-op
#: twin, so degenerate corpora agree rank-by-rank).
def bpe_vocab_curve(docs: DataFrame) -> DataFrame:
    """L2g: vocab-size-vs-fertility curve at every merge rank 0..{k} —
    see the block comment for the one-chain construction and the
    dry-out contract.

    Scale shape: the corpus is scanned once — the (sym, cnt) word table
    fills the keyed materialized cache and every per-rank branch scans
    that one vocabulary-sized InMemoryRelation (Spark does not reuse
    the aggregate exchange across union branches on its own: measured
    20 parquet scans uncached, 1 cached); the final fold is ≤ k+1
    rows.""".format(k=BPE_TRAIN_MERGES)
    from functools import reduce as _reduce

    from .dedup import _materialized_df

    merges = [m[1] for m in _learned_merges(docs)]
    words = _materialized_df(
        docs.sparkSession,
        "_llm_bpe_wt0",
        docs.semanticHash(),
        lambda: _bpe_word_table(docs),
    )
    col = F.col("sym")
    frames = []
    for k in range(BPE_TRAIN_MERGES + 1):
        if 0 < k <= len(merges):
            col = _merge_apply_expr(col, merges[k - 1])
        frames.append(
            words.select(
                F.lit(k).cast("long").alias("merge_rank"),
                "cnt",
                F.explode(F.split(col, " ")).alias("s"),
            )
        )
    u = _reduce(DataFrame.unionByName, frames)
    totals = words.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("nw")
    )
    per_rank = u.groupBy("merge_rank").agg(
        F.countDistinct("s").cast("long").alias("n_symbol_types"),
        F.sum("cnt").cast("long").alias("corpus_tokens"),
    )
    return (
        per_rank.crossJoin(totals)
        .select(
            "merge_rank",
            "n_symbol_types",
            "corpus_tokens",
            F.when(F.col("nw") == 0, F.lit(0.0))
            .otherwise(
                F.floor(
                    (F.col("corpus_tokens").cast("double") / F.col("nw"))
                    * 10000.0
                    + 0.5
                )
                / 10000.0
            )
            .alias("fertility"),
        )
        .orderBy("merge_rank")
    )


def _oracle_bpe_vocab_curve() -> str:
    ranks = " UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS merge_rank,"
        f" CAST(COUNT(DISTINCT s) AS BIGINT) AS n_symbol_types,"
        f" CAST(SUM(cnt) AS BIGINT) AS corpus_tokens"
        f" FROM (SELECT cnt, unnest(string_split(sym, ' ')) AS s"
        f" FROM wt{k}) GROUP BY 1"
        for k in range(BPE_TRAIN_MERGES + 1)
    )
    return (
        "WITH "
        + ",\n".join(_bpe_chain_parts(BPE_TRAIN_MERGES, final_merge=True))
        + f""",
totals AS (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS nw FROM words),
ranksu AS ({ranks})
SELECT r.merge_rank, r.n_symbol_types, r.corpus_tokens,
       CASE WHEN t.nw = 0 THEN CAST(0.0 AS DOUBLE)
            ELSE FLOOR((CAST(r.corpus_tokens AS DOUBLE)
                        / CAST(t.nw AS DOUBLE)) * 10000.0 + 0.5)
                 / CAST(10000.0 AS DOUBLE) END AS fertility
FROM ranksu r CROSS JOIN totals t
ORDER BY r.merge_rank
"""
    )


ORACLE_BPE_VOCAB_CURVE = _oracle_bpe_vocab_curve()


# ==========================================================================
# L2f — tokenizer compression parity (bytes & chars per BPE token)
# ==========================================================================
#: The tokenizer-fairness audit (the measurement behind the well-known
#: result that one tokenizer's cost per byte differs by multiples across
#: languages/sources — e.g. Petrov et al. 2023, "Language Model
#: Tokenizers Introduce Unfairness Between Languages", arXiv:2305.15425):
#: per (source, lang) cell, total UTF-8 bytes, chars, whitespace words
#: and trained-BPE tokens, with bytes-per-token and chars-per-token —
#: the number that decides which slice of a mixed corpus is EXPENSIVE to
#: train on and whether the tokenizer needs retraining before a new
#: source is admitted.
def bpe_compression(docs: DataFrame) -> DataFrame:
    """L2f: per-(source, lang) compression under L2c's trained
    tokenizer — UTF-8 bytes / chars / whitespace words / BPE tokens and
    the bytes-per-token, chars-per-token ratios. Cells whose documents
    have no tokens keep their byte/char mass with zeroed token columns
    (ratio sentinel 0.0) — an all-whitespace source still costs storage.

    Scale shape: L2e's vocabulary-sized merge application unchanged;
    the wide aggregate is keyed (source, lang, word) — bounded by
    #cells × vocabulary, never by corpus rows — and aggregates BEFORE
    the vocab join (no hot-word fan-out); the byte/char base aggregate
    is one map-side-combined pass; the final join is #cells × #cells.
    NULL source/lang are real groups (IS NOT DISTINCT FROM join,
    NULLS FIRST ordering pinned — engine defaults differ)."""
    merges = [m[1] for m in _learned_merges(docs)]
    vocab = docs.select(
        F.explode(F.expr(_TOKENS_SPARK)).alias("word")
    ).distinct()
    col = F.concat(F.regexp_replace("word", "(?s)(.)", "$1 "), F.lit("</w>"))
    for pair in merges:
        col = _merge_apply_expr(col, pair)
    wn = vocab.select("word", F.size(F.split(col, " ")).alias("n_sub"))
    occ = (
        docs.select(
            "source", "lang", F.explode(F.expr(_TOKENS_SPARK)).alias("word")
        )
        .groupBy("source", "lang", "word")
        .agg(F.count("*").alias("n_occ"))
    )
    toks = (
        occ.join(wn, "word")
        .groupBy("source", "lang")
        .agg(
            F.sum("n_occ").cast("long").alias("n_words"),
            F.sum(F.col("n_occ") * F.col("n_sub")).cast("long").alias(
                "n_bpe_tokens"
            ),
        )
    )
    base = docs.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.coalesce(F.length("text"), F.lit(0)))
        .cast("long")
        .alias("n_chars_total"),
        F.sum(F.coalesce(F.octet_length("text"), F.lit(0)))
        .cast("long")
        .alias("n_bytes_total"),
    )
    j = base.alias("b").join(
        toks.alias("t"),
        F.col("b.source").eqNullSafe(F.col("t.source"))
        & F.col("b.lang").eqNullSafe(F.col("t.lang")),
        "left",
    )
    nbpe = F.coalesce(F.col("t.n_bpe_tokens"), F.lit(0)).cast("long")

    def _ratio(num):
        return F.when(nbpe == 0, F.lit(0.0)).otherwise(
            F.floor((num.cast("double") / nbpe.cast("double")) * 10000.0 + 0.5)
            / 10000.0
        )

    return (
        j.select(
            F.col("b.source").alias("source"),
            F.col("b.lang").alias("lang"),
            F.col("b.n_docs").alias("n_docs"),
            F.coalesce(F.col("t.n_words"), F.lit(0))
            .cast("long")
            .alias("n_words"),
            nbpe.alias("n_bpe_tokens"),
            F.col("b.n_chars_total").alias("n_chars_total"),
            F.col("b.n_bytes_total").alias("n_bytes_total"),
            _ratio(F.col("b.n_bytes_total")).alias("bytes_per_token"),
            _ratio(F.col("b.n_chars_total")).alias("chars_per_token"),
        )
        .orderBy(F.asc_nulls_first("source"), F.asc_nulls_first("lang"))
    )


ORACLE_BPE_COMPRESSION = (
    "WITH "
    + ",\n".join(_bpe_chain_parts(BPE_TRAIN_MERGES, final_merge=True))
    + f""",
final AS (SELECT word, len(string_split(sym, ' ')) AS n_sub
          FROM wt{BPE_TRAIN_MERGES}),
occ AS (
  SELECT source, lang, word, COUNT(*) AS n_occ
  FROM (SELECT source, lang, unnest({_TOKENS_DUCK}) AS word FROM documents)
  GROUP BY source, lang, word
),
toks AS (
  SELECT source, lang, CAST(SUM(n_occ) AS BIGINT) AS n_words,
         CAST(SUM(n_occ * f.n_sub) AS BIGINT) AS n_bpe_tokens
  FROM occ o JOIN final f ON o.word = f.word
  GROUP BY source, lang
),
base AS (
  SELECT source, lang, COUNT(*) AS n_docs,
         CAST(SUM(COALESCE(length(text), 0)) AS BIGINT) AS n_chars_total,
         CAST(SUM(COALESCE(octet_length(encode(text)), 0)) AS BIGINT)
           AS n_bytes_total
  FROM documents GROUP BY source, lang
)
SELECT b.source, b.lang, b.n_docs,
       COALESCE(t.n_words, 0) AS n_words,
       COALESCE(t.n_bpe_tokens, 0) AS n_bpe_tokens,
       b.n_chars_total, b.n_bytes_total,
       CASE WHEN COALESCE(t.n_bpe_tokens, 0) = 0 THEN CAST(0.0 AS DOUBLE)
            ELSE FLOOR((CAST(b.n_bytes_total AS DOUBLE)
                        / CAST(t.n_bpe_tokens AS DOUBLE)) * 10000.0 + 0.5)
                 / CAST(10000.0 AS DOUBLE) END AS bytes_per_token,
       CASE WHEN COALESCE(t.n_bpe_tokens, 0) = 0 THEN CAST(0.0 AS DOUBLE)
            ELSE FLOOR((CAST(b.n_chars_total AS DOUBLE)
                        / CAST(t.n_bpe_tokens AS DOUBLE)) * 10000.0 + 0.5)
                 / CAST(10000.0 AS DOUBLE) END AS chars_per_token
FROM base b LEFT JOIN toks t
  ON b.source IS NOT DISTINCT FROM t.source
 AND b.lang IS NOT DISTINCT FROM t.lang
ORDER BY b.source NULLS FIRST, b.lang NULLS FIRST
"""
)


# ==========================================================================
# L3 — sequence packing (contiguous-greedy bins per language)
# ==========================================================================
_PACK_TAIL = """
sized AS (
  SELECT doc_id, lang, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM ({tokens})
),
binned AS (
  SELECT lang, CAST(FLOOR((cum_tokens - 1) / {budget}.0) AS BIGINT) AS bin_id,
         doc_id, n_tokens
  FROM sized WHERE n_tokens > 0
)
SELECT lang, bin_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
       MIN(doc_id) AS first_doc_id,
       MAX(doc_id) AS last_doc_id
FROM binned
GROUP BY lang, bin_id
ORDER BY lang, bin_id
"""


def pack_sequences(docs: DataFrame) -> DataFrame:
    """L3: pack documents into ~{b}-token training sequences per language
    (contiguous-greedy: running token cumsum, bin = cumsum div budget).
    Deterministic under any degree of parallelism — the scalable
    alternative to first-fit bin packing, whose output depends on arrival
    order. One lang-keyed shuffle for the window, one for the bin
    aggregate.""".format(b=PACK_TOKEN_BUDGET)
    with scoped_temp_view(docs, "_llm_docs") as dv:
        return docs.sparkSession.sql(
            "WITH "
            + _PACK_TAIL.format(
                tokens=(
                    "SELECT doc_id, lang,"
                    f" size({_TOKENS_SPARK}) AS n_tokens FROM {dv}"
                ),
                budget=PACK_TOKEN_BUDGET,
            )
        )


ORACLE_PACK_SEQUENCES = "WITH " + _PACK_TAIL.format(
    tokens=(
        "SELECT doc_id, lang,"
        f" len({_TOKENS_DUCK}) AS n_tokens FROM documents"
    ),
    budget=PACK_TOKEN_BUDGET,
)


# --- L3c: packing fragmentation audit --------------------------------------
#: L3's contiguous-greedy packer always realizes the OPTIMAL bin count
#: (bins are cumsum÷budget by construction), so the cost that remains is
#: FRAGMENTATION: a document whose token span straddles a budget
#: boundary is split across training sequences — its cross-boundary
#: tokens lose attention to each other (the packing trade the
#: best-practice literature tunes SEQ_LEN against). This audit reports,
#: per language, how many documents fragment at the configured budget
#: and how many tokens sit in fragmented documents — the two numbers a
#: SEQ_LEN decision needs.
_PACK_FRAG_TAIL = """
sized AS (
  SELECT doc_id, lang, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM ({tokens})
),
flagged AS (
  SELECT lang, n_tokens,
         CASE WHEN CAST(FLOOR((cum_tokens - n_tokens) / {budget}.0)
                   AS BIGINT)
               <> CAST(FLOOR((cum_tokens - 1) / {budget}.0) AS BIGINT)
              THEN 1 ELSE 0 END AS frag
  FROM sized WHERE n_tokens > 0
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(FLOOR((CAST(SUM(n_tokens) AS DOUBLE) - 1) / {budget}.0) + 1
            AS BIGINT) AS n_bins,
       CAST(SUM(frag) AS BIGINT) AS fragmented_docs,
       CAST(SUM(frag * n_tokens) AS BIGINT) AS fragmented_tokens,
       FLOOR((CAST(SUM(frag) AS DOUBLE) / COUNT(*)) * 10000.0 + 0.5)
         / CAST(10000.0 AS DOUBLE) AS fragmented_doc_frac,
       FLOOR((CAST(SUM(frag * n_tokens) AS DOUBLE)
              / CAST(SUM(n_tokens) AS DOUBLE)) * 10000.0 + 0.5)
         / CAST(10000.0 AS DOUBLE) AS fragmented_token_frac
FROM flagged
GROUP BY lang
ORDER BY lang NULLS FIRST
"""


def pack_fragmentation(docs: DataFrame) -> DataFrame:
    """L3c: per-language fragmentation under L3's contiguous packing at
    the {b}-token budget — documents whose span straddles a budget
    boundary (start bin ≠ end bin on the same cumsum L3 bins by), with
    doc/token counts and fractions. See the block comment for why this
    (not bin count) is the packing cost a SEQ_LEN decision weighs.

    Scale shape: L3's lang-partitioned cumsum window (sharded variant
    available as L3b for skewed language mixes), then one lang-keyed
    fold — no joins, ≤ #languages rows out. Token-less documents carry
    no span and are excluded, exactly as L3 excludes them from
    bins.""".format(b=PACK_TOKEN_BUDGET)
    with scoped_temp_view(docs, "_llm_docs") as dv:
        return docs.sparkSession.sql(
            "WITH "
            + _PACK_FRAG_TAIL.format(
                tokens=(
                    "SELECT doc_id, lang,"
                    f" size({_TOKENS_SPARK}) AS n_tokens FROM {dv}"
                ),
                budget=PACK_TOKEN_BUDGET,
            )
        )


ORACLE_PACK_FRAGMENTATION = "WITH " + _PACK_FRAG_TAIL.format(
    tokens=(
        "SELECT doc_id, lang,"
        f" len({_TOKENS_DUCK}) AS n_tokens FROM documents"
    ),
    budget=PACK_TOKEN_BUDGET,
)


# --- L3b: sharded packing — the 100 TB variant -----------------------------
# The plain packer's window partitions on lang alone: a 5-language corpus
# gives 5 reducers no matter the cluster size (each language's cumsum is
# inherently sequential). The sharded variant hashes each doc into one of
# N_PACK_SHARDS per-language shards and packs within (lang, shard):
# parallelism = #langs × #shards, bins stay deterministic, and the bin id
# namespaces the shard so ids never collide. Bins are contiguous within a
# shard rather than globally — the standard trade for distributed packing.
N_PACK_SHARDS = 16

_PACK_SHARDED_TAIL = """
sized AS (
  SELECT doc_id, lang, n_tokens,
         ({bucket}) % {shards} AS shard,
         SUM(n_tokens) OVER (PARTITION BY lang, ({bucket}) % {shards}
                             ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM ({tokens})
),
binned AS (
  SELECT lang, shard,
         CAST(shard AS BIGINT) * 1000000
           + CAST(FLOOR((cum_tokens - 1) / {budget}.0) AS BIGINT) AS bin_id,
         doc_id, n_tokens
  FROM sized WHERE n_tokens > 0
)
SELECT lang, bin_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
       MIN(doc_id) AS first_doc_id,
       MAX(doc_id) AS last_doc_id
FROM binned
GROUP BY lang, bin_id
ORDER BY lang, bin_id
"""


def pack_sequences_sharded(docs: DataFrame) -> DataFrame:
    """L3b: the scale variant of :func:`pack_sequences` — md5-sharded
    per-language packing so the window parallelism is #langs × {s}
    instead of #langs. Same budget, deterministic shard assignment (the
    split-family md5 bucket), shard-namespaced bin ids.""".format(
        s=N_PACK_SHARDS
    )
    with scoped_temp_view(docs, "_llm_docs") as dv:
        return docs.sparkSession.sql(
            "WITH "
            + _PACK_SHARDED_TAIL.format(
                tokens=(
                    "SELECT doc_id, lang,"
                    f" size({_TOKENS_SPARK}) AS n_tokens FROM {dv}"
                ),
                budget=PACK_TOKEN_BUDGET,
                bucket=_BUCKET.format(STR="STRING"),
                shards=N_PACK_SHARDS,
            )
        )


ORACLE_PACK_SEQUENCES_SHARDED = "WITH " + _PACK_SHARDED_TAIL.format(
    tokens=(
        "SELECT doc_id, lang,"
        f" len({_TOKENS_DUCK}) AS n_tokens FROM documents"
    ),
    budget=PACK_TOKEN_BUDGET,
    bucket=_BUCKET.format(STR="VARCHAR"),
    shards=N_PACK_SHARDS,
)


# ==========================================================================
# L4 — deterministic stratified sample
# ==========================================================================
_SAMPLE_TAIL = """
marked AS (
  SELECT lang, doc_id,
         CASE WHEN {bucket} < {rate} THEN 1 ELSE 0 END AS sampled
  FROM {src}
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(sampled) AS BIGINT) AS n_sampled,
       FLOOR((CAST(SUM(sampled) AS DOUBLE) * 100.0 / COUNT(*)) * 100.0 + 0.5)
         / CAST(100.0 AS DOUBLE) AS sampled_pct,
       CAST(SUM(CASE WHEN sampled = 1 THEN doc_id ELSE 0 END) AS BIGINT)
         AS sample_checksum
FROM marked
GROUP BY lang
ORDER BY lang
"""


def stratified_sample(docs: DataFrame) -> DataFrame:
    """L4: deterministic {r}% per-language sample via the md5(doc_id)
    bucket (same family as the train/val/test split — no RNG, identical
    across engines/runs/reshards). Returns the per-lang summary +
    checksum of the sampled id set so the *selection* is oracle-checked,
    not just the counts.""".format(r=SAMPLE_PER_CENT)
    with scoped_temp_view(docs, "_llm_docs") as dv:
        return docs.sparkSession.sql(
            "WITH "
            + _SAMPLE_TAIL.format(
                bucket=_BUCKET.format(STR="STRING"),
                rate=SAMPLE_PER_CENT,
                src=dv,
            )
        )


ORACLE_STRATIFIED_SAMPLE = "WITH " + _SAMPLE_TAIL.format(
    bucket=_BUCKET.format(STR="VARCHAR"),
    rate=SAMPLE_PER_CENT,
    src="documents",
)


# ==========================================================================
# L11 — temperature-weighted source sampling (multilingual mixture rates)
# ==========================================================================
#: corpus fraction the temperature sample targets (sum over sources).
TEMP_SAMPLE_FRACTION = 0.5


def _u4(str_type: str) -> str:
    """md5(doc_id) first 4 hex digits → uniform in [0, 1) with 1/65536
    granularity — same portable-hex family as ``_BUCKET``, more
    resolution (per-source rates are real-valued, not percents)."""
    digits = [
        f"(position(substr(md5(CAST(doc_id AS {str_type})), {i}, 1)"
        " IN '0123456789abcdef') - 1)"
        for i in (1, 2, 3, 4)
    ]
    acc = digits[0]
    for d in digits[1:]:
        acc = f"({acc} * 16 + {d})"
    return f"(CAST({acc} AS DOUBLE) / CAST(65536.0 AS DOUBLE))"


#: w = SQRT(char mass) snapped to an integer-valued double — temperature
#: alpha = 0.5 (the standard up-weighting of low-resource sources), and
#: integer-valued doubles SUM exactly in any aggregation order. Weighting
#: is by character mass, not doc count, so sources with longer documents
#: don't dominate the mix by token volume.
_TEMP_W = "FLOOR(SQRT(CAST(src_chars AS DOUBLE)) * 1000000.0 + 0.5)"

_TEMP_SAMPLE_TAIL = """
counts AS (
  -- CAST: DuckDB SUM(int) yields HUGEINT (harness-canonicalized as
  -- float); Spark yields BIGINT. Pin both engines to BIGINT.
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS src_chars
  FROM {src} GROUP BY source
),
weighted AS (
  SELECT source, n_docs, src_chars,
         {w} AS w,
         SUM({w}) OVER () AS tot_w,
         SUM(src_chars) OVER () AS total_chars
  FROM counts
),
rated AS (
  -- a source whose documents are all empty (src_chars = 0, hence w = 0
  -- and possibly tot_w = 0 corpus-wide) carries no character mass to
  -- sample: rate 0. Guarded explicitly — Spark runs ANSI mode where the
  -- raw division throws DIVIDE_BY_ZERO (found by the adversarial
  -- property corpus, not the fixed sf tables).
  SELECT source, n_docs, src_chars,
         CASE WHEN tot_w = 0 OR src_chars = 0 THEN CAST(0.0 AS DOUBLE)
              ELSE
         LEAST(CAST(1.0 AS DOUBLE),
               FLOOR(((CAST(w AS DOUBLE) / CAST(tot_w AS DOUBLE))
                      * CAST(FLOOR(CAST(total_chars AS DOUBLE) * CAST({frac} AS DOUBLE) + 0.5) AS DOUBLE)
                      / CAST(src_chars AS DOUBLE)) * 1000000.0 + 0.5)
               / CAST(1000000.0 AS DOUBLE)) END AS sample_rate
  FROM weighted
),
sampled AS (
  SELECT d.source, COUNT(*) AS n_sampled,
         CAST(SUM(d.n_chars) AS BIGINT) AS sampled_chars
  FROM {src} d JOIN rated r ON d.source = r.source
  WHERE {u4} < r.sample_rate
  GROUP BY d.source
)
SELECT r.source, r.n_docs, r.src_chars, r.sample_rate,
       COALESCE(s.n_sampled, 0) AS n_sampled,
       COALESCE(s.sampled_chars, 0) AS sampled_chars
FROM rated r LEFT JOIN sampled s ON r.source = s.source
ORDER BY r.source
"""


def temperature_sample(docs: DataFrame) -> DataFrame:
    """L11: temperature-weighted mixture sampling — per-source selection
    rates proportional to ``count^0.5 / sum(count^0.5)`` (temperature
    alpha = 0.5, the standard low-resource up-weighting for multilingual /
    multi-source training mixes), scaled to a {frac:.0%}-of-corpus target,
    then a deterministic md5-uniform per-document selection.

    Plan shape at 100 TB: one map-side-combined ``groupBy(source)`` over
    the corpus (bounded by #sources), two window sums over that tiny
    frame, a broadcast join of the rates back onto the scan, and a second
    bounded groupBy — the document side is never shuffled by anything
    wider than the #sources aggregation key. Selection is reproducible
    across runs, reshards, and engines (no RNG).""".format(
        frac=TEMP_SAMPLE_FRACTION
    )
    with scoped_temp_view(docs, "_llm_docs") as dv:
        return docs.sparkSession.sql(
            "WITH "
            + _TEMP_SAMPLE_TAIL.format(
                src=dv,
                w=_TEMP_W,
                frac=TEMP_SAMPLE_FRACTION,
                u4=_u4("STRING"),
            )
        )


ORACLE_TEMPERATURE_SAMPLE = "WITH " + _TEMP_SAMPLE_TAIL.format(
    src="documents",
    w=_TEMP_W,
    frac=TEMP_SAMPLE_FRACTION,
    u4=_u4("VARCHAR"),
)


# ==========================================================================
# L5 — train/test contamination (shingle overlap across the hash split)
# ==========================================================================
_CONTAM_TAIL = """
splits AS (
  SELECT doc_id,
         CASE WHEN {bucket} < {train} THEN 'train'
              WHEN {bucket} < {trainval} THEN 'val'
              ELSE 'test' END AS split
  FROM {src}
),
overlap AS (
  SELECT tr.doc_id AS train_doc, te.doc_id AS test_doc,
         COUNT(*) AS common_shingles
  FROM shingles a
  JOIN splits tr ON a.doc_id = tr.doc_id AND tr.split = 'train'
  JOIN shingles b ON b.shingle = a.shingle
  JOIN splits te ON b.doc_id = te.doc_id AND te.split = 'test'
  GROUP BY tr.doc_id, te.doc_id
)
SELECT train_doc, test_doc, common_shingles
FROM overlap
WHERE common_shingles >= {minsh}
ORDER BY train_doc, test_doc
"""


def contamination(docs: DataFrame) -> DataFrame:
    """L5: train→test leakage detector — (train_doc, test_doc) pairs from
    the deterministic hash split sharing ≥{m} 3-word shingles. The
    decontamination pass every serious eval pipeline runs before
    training. Reuses the materialized shingle relation (built once) and
    the inverted-index join: shuffles carry (doc_id, shingle), never
    text.""".format(m=CONTAMINATION_MIN_SHINGLES)
    with shingles_cte(docs) as hdr, scoped_temp_view(
        docs, "_llm_docs"
    ) as dv:
        return docs.sparkSession.sql(
            hdr
            + _CONTAM_TAIL.format(
                bucket=_BUCKET.format(STR="STRING"),
                train=TRAIN_PCT,
                trainval=TRAIN_PCT + VAL_PCT,
                src=dv,
                minsh=CONTAMINATION_MIN_SHINGLES,
            )
        )


ORACLE_CONTAMINATION = (
    "WITH shingles AS ("
    + _SHINGLES_DUCK
    + "),\n"
    + _CONTAM_TAIL.format(
        bucket=_BUCKET.format(STR="VARCHAR"),
        train=TRAIN_PCT,
        trainval=TRAIN_PCT + VAL_PCT,
        src="documents",
        minsh=CONTAMINATION_MIN_SHINGLES,
    )
)


# ==========================================================================
# L12 — PII scrub (email / IPv4 / long-number redaction)
# ==========================================================================
#: Patterns are written backslash-free (character classes only, no \\d or
#: \\. and no {{m,n}} quantifiers) so the identical pattern TEXT means the
#: identical regex in Java (Spark) and RE2 (DuckDB), with no
#: string-literal escaping differences between the two SQL dialects.
PII_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z][a-z]+"
PII_IPV4 = "[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+"
PII_LONGNUM = "[0-9][0-9][0-9][0-9][0-9]+"

#: staged so each count runs on the PREVIOUS stage's text: digit runs
#: inside an IP address are not double-counted as long numbers, and
#: neither is counted inside an already-redacted email.
_PII_TAIL = """
s1 AS (
  SELECT doc_id, length(text) AS n_chars_orig, text AS t0,
         regexp_replace(text, '{email}', '<EMAIL>'{g}) AS t1
  FROM {src}
),
s2 AS (
  SELECT *, regexp_replace(t1, '{ipv4}', '<IP>'{g}) AS t2 FROM s1
),
s3 AS (
  SELECT *, regexp_replace(t2, '{num}', '<NUM>'{g}) AS t3 FROM s2
)
SELECT doc_id,
       {sz}(regexp_extract_all(t0, '{email}'{zero})) AS n_emails,
       {sz}(regexp_extract_all(t1, '{ipv4}'{zero})) AS n_ipv4,
       {sz}(regexp_extract_all(t2, '{num}'{zero})) AS n_longnums,
       n_chars_orig,
       length(t3) AS n_chars_scrubbed,
       md5(t3) AS scrubbed_md5
FROM s3
ORDER BY doc_id
"""


def pii_scrub(docs: DataFrame) -> DataFrame:
    """L12: PII redaction — emails, IPv4 addresses, and 5+-digit number
    runs replaced by typed placeholder tokens, with per-document
    redaction counts and an md5 of the scrubbed text (so the oracle
    checks the exact output text, not just the counts).

    Pure projection — three chained ``regexp_replace`` stages inside one
    whole-stage-codegen pass, zero shuffles; scales linearly and keeps
    scrubbed text out of any exchange. The standard pre-training scrub
    pass a corpus pipeline runs before tokenization."""
    with scoped_temp_view(docs, "_llm_docs") as dv:
        return docs.sparkSession.sql(
            "WITH "
            + _PII_TAIL.format(
                src=dv,
                email=PII_EMAIL,
                ipv4=PII_IPV4,
                num=PII_LONGNUM,
                g="",
                sz="size",
                zero=", 0",
            )
        )


ORACLE_PII_SCRUB = "WITH " + _PII_TAIL.format(
    src="documents",
    email=PII_EMAIL,
    ipv4=PII_IPV4,
    num=PII_LONGNUM,
    g=", 'g'",
    sz="len",
    zero="",
)


# ==========================================================================
# L6 — light normalization (plural-s stem fold)
# ==========================================================================
_STEM_SPARK = (
    f"transform({_TOKENS_SPARK}, x -> CASE WHEN length(x) > 3 AND x LIKE '%s'"
    " THEN substr(x, 1, length(x) - 1) ELSE x END)"
)
_STEM_DUCK = (
    f"list_transform({_TOKENS_DUCK}, x -> CASE WHEN length(x) > 3 AND x LIKE '%s'"
    " THEN substr(x, 1, length(x) - 1) ELSE x END)"
)


def stem_normalize(docs: DataFrame) -> DataFrame:
    """L6: light token normalization (strip plural 's' from tokens longer
    than 3 chars), emitting the normalized-text hash and change counts —
    the cheap canonicalization pass that runs before exact dedup so
    trivially-inflected duplicates collapse. Pure projection of JVM
    higher-order lambdas; zero shuffle."""
    # a token changes iff the stem condition holds, so the changed count
    # is a direct filter — no zip needed
    return docs.selectExpr(
        "doc_id",
        f"size({_TOKENS_SPARK}) AS n_tokens",
        f"""size(filter({_TOKENS_SPARK},
            x -> length(x) > 3 AND x LIKE '%s')) AS n_changed_tokens""",
        # COALESCE: NULL text (failed fetch) normalizes like the empty
        # document — md5('') — instead of a NULL hash; the oracle twin
        # applies the same COALESCE, so the engines agree on both the
        # NULL-text and empty-array cases
        f"md5(COALESCE(array_join({_STEM_SPARK}, ' '), '')) AS normalized_hash",
    ).orderBy("doc_id")


ORACLE_STEM_NORMALIZE = f"""
SELECT doc_id,
       len({_TOKENS_DUCK}) AS n_tokens,
       len(list_filter({_TOKENS_DUCK},
           x -> length(x) > 3 AND x LIKE '%s')) AS n_changed_tokens,
       md5(COALESCE(array_to_string({_STEM_DUCK}, ' '), '')) AS normalized_hash
       -- COALESCE: DuckDB's array_to_string([]) is NULL; Spark's
       -- array_join([]) is '' — align on '' for empty documents
FROM documents
ORDER BY doc_id
"""


# ==========================================================================
# L7 — embedding dimension statistics (health check)
# ==========================================================================
# Snap each element to a scaled integer BEFORE the cross-row SUM: integer
# sums are associative, so Spark's partial-agg order and DuckDB's
# sequential order produce identical bits. Divide/round once at the end.
_DIM_STATS_TAIL = """
elems AS (
  SELECT dim, CAST(FLOOR(v * {scale} + 0.5) AS BIGINT) AS sv
  FROM ({unnested})
)
SELECT dim,
       COUNT(*) AS n,
       FLOOR((CAST(SUM(sv) AS DOUBLE) / COUNT(*) / {scale}) * 1000000.0 + 0.5)
         / CAST(1000000.0 AS DOUBLE) AS mean_v,
       FLOOR((MIN(sv) / {scale}) * 1000000.0 + 0.5)
         / CAST(1000000.0 AS DOUBLE) AS min_v,
       FLOOR((MAX(sv) / {scale}) * 1000000.0 + 0.5)
         / CAST(1000000.0 AS DOUBLE) AS max_v,
       FLOOR(sqrt(GREATEST(CAST(SUM(sv * sv) AS DOUBLE) / COUNT(*)
                  - (CAST(SUM(sv) AS DOUBLE) / COUNT(*))
                    * (CAST(SUM(sv) AS DOUBLE) / COUNT(*)), 0.0))
             / {scale} * 1000000.0 + 0.5)
         / CAST(1000000.0 AS DOUBLE) AS std_v
FROM elems
GROUP BY dim
ORDER BY dim
"""


#: L7b — int8 quantization-readiness audit. Serving stacks quantize
#: embeddings to int8 (4x smaller, SIMD dot products); the accuracy cost
#: hinges on ONE decision: a single per-tensor scale vs per-channel
#: (per-dimension) scales. A dimension whose absmax is a fraction of
#: the global one wastes most of its 127 levels under a tensor scale —
#: this audit quantifies exactly that: per-dim range utilization and the
#: measured quantization MSE under each scheme. Everything runs in the
#: snapped-integer element domain; squared errors snap to integer
#: micro^2 before the cross-row SUM (DECIMAL(38,0) — exact at any
#: corpus size), so the audit is bit-stable under any partitioning.
#: Zero-range dims (and an all-zero corpus) quantize to 0 with 0 error
#: by definition — guarded, not divided.
_INT8_AUDIT_TAIL = """
elems AS (
  SELECT dim, CAST(FLOOR(v * {scale} + 0.5) AS BIGINT) AS sv
  FROM ({unnested})
),
dims AS (SELECT dim, MAX(ABS(sv)) AS dmax FROM elems GROUP BY dim),
g AS (SELECT MAX(dmax) AS gmax FROM dims),
err AS (
  SELECT e.dim,
         CAST(FLOOR(POWER(e.sv -
           (CASE WHEN g.gmax = 0 THEN CAST(0.0 AS DOUBLE)
                 ELSE FLOOR(e.sv * 127.0 / g.gmax + 0.5) * g.gmax / 127.0
            END), 2) + 0.5) AS DECIMAL(38,0)) AS e2_tensor,
         CAST(FLOOR(POWER(e.sv -
           (CASE WHEN d.dmax = 0 THEN CAST(0.0 AS DOUBLE)
                 ELSE FLOOR(e.sv * 127.0 / d.dmax + 0.5) * d.dmax / 127.0
            END), 2) + 0.5) AS DECIMAL(38,0)) AS e2_channel
  FROM elems e
  JOIN dims d ON e.dim = d.dim
  JOIN g ON 1 = 1
),
agg AS (
  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(e2_tensor) AS st, SUM(e2_channel) AS sc
  FROM err GROUP BY dim
)
SELECT a.dim,
       a.n,
       FLOOR(d.dmax / {scale} * 1000000.0 + 0.5)
         / CAST(1000000.0 AS DOUBLE) AS absmax,
       CASE WHEN g.gmax = 0 THEN CAST(0.0 AS DOUBLE)
            ELSE FLOOR(CAST(d.dmax AS DOUBLE) * 10000.0 / g.gmax + 0.5)
                 / CAST(100.0 AS DOUBLE) END AS range_use_pct,
       FLOOR(CAST(a.st AS DOUBLE) / a.n / {scale} / {scale}
             * 1000000000000.0 + 0.5)
         / CAST(1000000000000.0 AS DOUBLE) AS mse_tensor_scale,
       FLOOR(CAST(a.sc AS DOUBLE) / a.n / {scale} / {scale}
             * 1000000000000.0 + 0.5)
         / CAST(1000000000000.0 AS DOUBLE) AS mse_channel_scale
FROM agg a
JOIN dims d ON a.dim = d.dim
JOIN g ON 1 = 1
ORDER BY a.dim
"""


def embedding_int8_audit(emb: DataFrame) -> DataFrame:
    """L7b: per-dimension int8 quantization audit — range utilization
    under a per-tensor scale and measured round-trip MSE under
    per-tensor vs per-channel scales. The number that decides how a
    serving stack quantizes this corpus's vectors.

    Scale shape: one posexplode + three dim-keyed aggregates; ``dims``
    and ``g`` are dimensionality-sized/1-row (broadcast); the only
    data-sized exchange keys on dim. No windows, no Python."""
    with scoped_temp_view(
        emb.where("embedding IS NOT NULL"), "_llm_emb"
    ) as ev:
        return emb.sparkSession.sql(
            "WITH "
            + _INT8_AUDIT_TAIL.format(
                scale=EMBED_SCALE,
                unnested=(
                    "SELECT pos AS dim, CAST(v AS DOUBLE) AS v"
                    f" FROM {ev} LATERAL VIEW posexplode(embedding) t AS pos, v"
                ),
            )
        )


ORACLE_INT8_AUDIT = "WITH " + _INT8_AUDIT_TAIL.format(
    scale=EMBED_SCALE,
    unnested=(
        "SELECT generate_subscripts(embedding, 1) - 1 AS dim,"
        " CAST(unnest(embedding) AS DOUBLE) AS v"
        " FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL)"
    ),
)


def embedding_dim_stats(emb: DataFrame) -> DataFrame:
    """L7: per-dimension mean/min/max/std over the embedding column — the
    collapsed-dimension / scale-drift health check run before any ANN
    index build. posexplode + one dim-keyed aggregate; sums run over
    snapped integers so the result is bit-stable at any parallelism."""
    with scoped_temp_view(
        emb.where("embedding IS NOT NULL"), "_llm_emb"
    ) as ev:
        return emb.sparkSession.sql(
            "WITH "
            + _DIM_STATS_TAIL.format(
                scale=EMBED_SCALE,
                unnested=(
                    f"SELECT pos AS dim, CAST(v AS DOUBLE) AS v FROM {ev} "
                    "LATERAL VIEW posexplode(embedding) t AS pos, v"
                ),
            )
        )


ORACLE_EMBEDDING_DIM_STATS = "WITH " + _DIM_STATS_TAIL.format(
    scale=EMBED_SCALE,
    unnested=(
        "SELECT generate_subscripts(embedding, 1) - 1 AS dim,"
        " CAST(unnest(embedding) AS DOUBLE) AS v FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL)"
    ),
)


# ==========================================================================
# L7b — anisotropy audit (exact average pairwise cosine, O(n) not O(n²))
# ==========================================================================
#: Contextual/LM embedding spaces are famously ANISOTROPIC — vectors
#: crowd a narrow cone, so the expected cosine of two random vectors is
#: far above 0 (Ethayarajh 2019, arXiv:1909.00512) — which silently
#: inflates every cosine-threshold op in this catalog (semantic dedup,
#: ANN, outliers) and is fixed by mean-removal (Mu & Viswanath 2018,
#: "All-but-the-Top", arXiv:1702.01417). This audit measures it with the
#: sum-vector identity: for unit vectors, ‖Σv̂‖² = n + Σ_{i≠j}cos(i,j),
#: so the EXACT corpus-average pairwise cosine is
#: (‖Σv̂‖² − Σ‖v̂‖²) / (n(n−1)) — one pass, per-dim sums, NO pair join.
#: A quadratic statistic at any corpus size for the price of an
#: aggregate: at 100 TB this is the difference between an audit you run
#: per ingest batch and one you cannot run at all.
#:
#: Exactness: elements micro-snap before every cross-row SUM; unit
#: components re-snap after the (per-row deterministic) sqrt division;
#: per-dim sums down-snap to milli before squaring so the squares stay
#: in BIGINT range at any n (the PQ down-snap); the only floats are
#: IEEE sqrt/div over identical inputs.
_ANISOTROPY_TAIL = """
elems AS (
  SELECT vec_id, dim, CAST(FLOOR(x * 1000000.0 + 0.5) AS BIGINT) AS xi
  FROM ({unnested})
),
vnorm AS (
  SELECT vec_id, CAST(SUM(xi * xi) AS BIGINT) AS nsq
  FROM elems GROUP BY vec_id
),
counts AS (
  SELECT COUNT(*) AS n_vecs,
         CAST(COALESCE(SUM(CASE WHEN nsq = 0 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_zero
  FROM vnorm
),
unit AS (
  SELECT e.vec_id, e.dim,
         CAST(FLOOR(CAST(e.xi AS DOUBLE) / sqrt(CAST(v.nsq AS DOUBLE))
                    * 1000000.0 + 0.5) AS BIGINT) AS ui
  FROM elems e JOIN vnorm v ON v.vec_id = e.vec_id
  WHERE v.nsq > 0
),
dimsums AS (
  SELECT dim, CAST(FLOOR(CAST(SUM(xi) AS DOUBLE) / 1000.0) AS BIGINT) AS sxm
  FROM elems GROUP BY dim
),
udimsums AS (
  SELECT dim, CAST(FLOOR(CAST(SUM(ui) AS DOUBLE) / 1000.0) AS BIGINT) AS sud
  FROM unit GROUP BY dim
),
stats AS (
  SELECT
    (SELECT CAST(COALESCE(SUM(sxm * sxm), 0) AS BIGINT) FROM dimsums)
      AS meanvec_sq_milli,
    (SELECT CAST(COALESCE(SUM(sud * sud), 0) AS BIGINT) FROM udimsums)
      AS s2_milli,
    (SELECT CAST(COALESCE(SUM(ui * ui), 0) AS BIGINT) FROM unit) AS diag,
    (SELECT CAST(COALESCE(SUM(CAST(FLOOR(sqrt(CAST(nsq AS DOUBLE)) + 0.5)
                                   AS BIGINT)), 0) AS BIGINT)
     FROM vnorm WHERE nsq > 0) AS norm_sum_micro,
    (SELECT COUNT(*) FROM vnorm WHERE nsq > 0) AS n_unit
)
SELECT c.n_vecs, c.n_zero AS n_zero_norm,
       CASE WHEN s.n_unit = 0 THEN CAST(0.0 AS DOUBLE)
            ELSE FLOOR((CAST(s.norm_sum_micro AS DOUBLE) / s.n_unit
                        / 1000000.0) * 10000.0 + 0.5)
                 / CAST(10000.0 AS DOUBLE) END AS avg_norm,
       CASE WHEN c.n_vecs = 0 THEN CAST(0.0 AS DOUBLE)
            ELSE FLOOR((sqrt(CAST(s.meanvec_sq_milli AS DOUBLE)) * 1000.0
                        / 1000000.0 / c.n_vecs) * 10000.0 + 0.5)
                 / CAST(10000.0 AS DOUBLE) END AS mean_vec_norm,
       CASE WHEN s.n_unit < 2 THEN CAST(0.0 AS DOUBLE)
            ELSE FLOOR(((CAST(s.s2_milli AS DOUBLE) * 1000000.0
                         - CAST(s.diag AS DOUBLE)) / 1000000000000.0
                        / (CAST(s.n_unit AS DOUBLE) * (s.n_unit - 1)))
                       * 10000.0 + 0.5)
                 / CAST(10000.0 AS DOUBLE) END AS avg_pairwise_cos
FROM counts c CROSS JOIN stats s
"""


# --------------------------------------------------------------------------
# L7b streaming twin — decomposable sufficient statistics
# --------------------------------------------------------------------------
#: The sum-vector identity is DECOMPOSABLE: every term of L7b's answer
#: (per-dim raw/unit sums, the unit diagonal, counts, the norm sum) is a
#: plain SUM over vectors, so a micro-batch can emit its exact partial
#: BIGINT statistics and the merged corpus answer is bit-identical to
#: the batch op — the textbook incremental-maintenance shape for a
#: "quadratic" statistic. Partials are pure functions of the batch
#: (byte-identical on retry, batch_id included), so the at-least-once
#: repair is the house DISTINCT-on-read.
def anisotropy_partials(emb: DataFrame) -> DataFrame:
    """Per-batch exact partial statistics for L7b: per-dim rows
    ``(dim, su, sx)`` plus one ``dim = -1`` scalar row carrying
    ``(diag, n_vecs, n_zero, n_unit, norm_sum)``. Merging = SUM; the
    milli down-snaps happen at READ time (:func:`read_anisotropy_stats`)
    so incremental and batch answers match exactly."""
    with scoped_temp_view(
        emb.where("embedding IS NOT NULL"), "_llm_emb"
    ) as ev:
        return emb.sparkSession.sql(f"""
WITH elems AS (
  SELECT vec_id, pos AS dim,
         CAST(FLOOR(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS xi
  FROM {ev} LATERAL VIEW posexplode(embedding) t AS pos, v
),
vnorm AS (
  SELECT vec_id, CAST(SUM(xi * xi) AS BIGINT) AS nsq
  FROM elems GROUP BY vec_id
),
unit AS (
  SELECT e.vec_id, e.dim,
         CAST(FLOOR(CAST(e.xi AS DOUBLE) / sqrt(CAST(v.nsq AS DOUBLE))
                    * 1000000.0 + 0.5) AS BIGINT) AS ui
  FROM elems e JOIN vnorm v ON v.vec_id = e.vec_id
  WHERE v.nsq > 0
),
dimsx AS (SELECT dim, CAST(SUM(xi) AS BIGINT) AS sx FROM elems GROUP BY dim),
dimsu AS (SELECT dim, CAST(SUM(ui) AS BIGINT) AS su FROM unit GROUP BY dim),
perdim AS (
  SELECT x.dim, COALESCE(u.su, CAST(0 AS BIGINT)) AS su, x.sx
  FROM dimsx x LEFT JOIN dimsu u ON u.dim = x.dim
),
scal AS (
  SELECT
    (SELECT COUNT(*) FROM vnorm) AS n_vecs,
    (SELECT CAST(COALESCE(SUM(CASE WHEN nsq = 0 THEN 1 ELSE 0 END), 0)
            AS BIGINT) FROM vnorm) AS n_zero,
    (SELECT COUNT(*) FROM vnorm WHERE nsq > 0) AS n_unit,
    (SELECT CAST(COALESCE(SUM(ui * ui), 0) AS BIGINT) FROM unit) AS diag,
    (SELECT CAST(COALESCE(SUM(CAST(FLOOR(sqrt(CAST(nsq AS DOUBLE)) + 0.5)
                                   AS BIGINT)), 0) AS BIGINT)
     FROM vnorm WHERE nsq > 0) AS norm_sum
)
SELECT CAST(dim AS BIGINT) AS dim, su, sx,
       CAST(0 AS BIGINT) AS diag, CAST(0 AS BIGINT) AS n_vecs,
       CAST(0 AS BIGINT) AS n_zero, CAST(0 AS BIGINT) AS n_unit,
       CAST(0 AS BIGINT) AS norm_sum
FROM perdim
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       diag, n_vecs, n_zero, n_unit, norm_sum
FROM scal
""")


def read_anisotropy_stats(spark, path: str) -> DataFrame:
    """Merge streamed partials into the corpus anisotropy row —
    bit-identical to :func:`embedding_anisotropy` over the union of all
    streamed batches (pinned differentially). DISTINCT first: a retried
    micro-batch appends byte-identical (batch_id, …) rows."""
    stats = spark.read.parquet(path).distinct()
    with scoped_temp_view(stats, "_llm_aniso_stats") as sv:
        return spark.sql(f"""
WITH merged_dim AS (
  SELECT dim, CAST(SUM(su) AS BIGINT) AS su, CAST(SUM(sx) AS BIGINT) AS sx
  FROM {sv} WHERE dim >= 0 GROUP BY dim
),
ms AS (
  SELECT CAST(COALESCE(SUM(n_vecs), 0) AS BIGINT) AS n_vecs,
         CAST(COALESCE(SUM(n_zero), 0) AS BIGINT) AS n_zero,
         CAST(COALESCE(SUM(n_unit), 0) AS BIGINT) AS n_unit,
         CAST(COALESCE(SUM(diag), 0) AS BIGINT) AS diag,
         CAST(COALESCE(SUM(norm_sum), 0) AS BIGINT) AS norm_sum
  FROM {sv} WHERE dim = -1
),
md AS (
  SELECT
    (SELECT CAST(COALESCE(SUM(CAST(FLOOR(CAST(sx AS DOUBLE) / 1000.0)
                                   AS BIGINT)
                              * CAST(FLOOR(CAST(sx AS DOUBLE) / 1000.0)
                                     AS BIGINT)), 0) AS BIGINT)
     FROM merged_dim) AS meanvec_sq_milli,
    (SELECT CAST(COALESCE(SUM(CAST(FLOOR(CAST(su AS DOUBLE) / 1000.0)
                                   AS BIGINT)
                              * CAST(FLOOR(CAST(su AS DOUBLE) / 1000.0)
                                     AS BIGINT)), 0) AS BIGINT)
     FROM merged_dim) AS s2_milli
)
SELECT s.n_vecs, s.n_zero AS n_zero_norm,
       CASE WHEN s.n_unit = 0 THEN CAST(0.0 AS DOUBLE)
            ELSE FLOOR((CAST(s.norm_sum AS DOUBLE) / s.n_unit
                        / 1000000.0) * 10000.0 + 0.5)
                 / CAST(10000.0 AS DOUBLE) END AS avg_norm,
       CASE WHEN s.n_vecs = 0 THEN CAST(0.0 AS DOUBLE)
            ELSE FLOOR((sqrt(CAST(d.meanvec_sq_milli AS DOUBLE)) * 1000.0
                        / 1000000.0 / s.n_vecs) * 10000.0 + 0.5)
                 / CAST(10000.0 AS DOUBLE) END AS mean_vec_norm,
       CASE WHEN s.n_unit < 2 THEN CAST(0.0 AS DOUBLE)
            ELSE FLOOR(((CAST(d.s2_milli AS DOUBLE) * 1000000.0
                         - CAST(s.diag AS DOUBLE)) / 1000000000000.0
                        / (CAST(s.n_unit AS DOUBLE) * (s.n_unit - 1)))
                       * 10000.0 + 0.5)
                 / CAST(10000.0 AS DOUBLE) END AS avg_pairwise_cos
FROM ms s CROSS JOIN md d
""")


# --------------------------------------------------------------------------
# L7c — All-but-the-Top audit (anisotropy before/after mean removal)
# --------------------------------------------------------------------------
#: L7b diagnoses anisotropy; this measures the FIX: Mu & Viswanath
#: 2018's first step (subtract the corpus mean vector) applied, then
#: both spaces scored with the same exact sum-vector identity — one row
#: says how much of the cosine inflation the common direction explains
#: and therefore whether mean-removal is worth a pipeline stage before
#: the cosine-threshold ops. Per-dim means snap to exact micro ints
#: (integer sums < 2^53 are exact doubles, so FLOOR(AVG+0.5) is
#: engine-identical), making centered elements exact BIGINT differences
#: — the centered pipeline inherits L7b's exactness wholesale.
def _aniso_cos_ctes(prefix: str, src: str) -> str:
    """The L7b unit/identity pipeline as prefixed CTEs — instantiated
    twice by L7c (raw + mean-centered) over different element sources."""
    return f"""
{prefix}vnorm AS (
  SELECT vec_id, CAST(SUM(xi * xi) AS BIGINT) AS nsq
  FROM {src} GROUP BY vec_id
),
{prefix}unit AS (
  SELECT e.vec_id, e.dim,
         CAST(FLOOR(CAST(e.xi AS DOUBLE) / sqrt(CAST(v.nsq AS DOUBLE))
                    * 1000000.0 + 0.5) AS BIGINT) AS ui
  FROM {src} e JOIN {prefix}vnorm v ON v.vec_id = e.vec_id
  WHERE v.nsq > 0
),
{prefix}udim AS (
  SELECT dim, CAST(FLOOR(CAST(SUM(ui) AS DOUBLE) / 1000.0) AS BIGINT) AS sud
  FROM {prefix}unit GROUP BY dim
),
{prefix}stat AS (
  SELECT
    (SELECT CAST(COALESCE(SUM(sud * sud), 0) AS BIGINT)
     FROM {prefix}udim) AS s2_milli,
    (SELECT CAST(COALESCE(SUM(ui * ui), 0) AS BIGINT)
     FROM {prefix}unit) AS diag,
    (SELECT COUNT(*) FROM {prefix}vnorm WHERE nsq > 0) AS n_unit
)"""


_ABTT_COS_EXPR = (
    "CASE WHEN {p}.n_unit < 2 THEN CAST(0.0 AS DOUBLE)"
    " ELSE FLOOR(((CAST({p}.s2_milli AS DOUBLE) * 1000000.0"
    "              - CAST({p}.diag AS DOUBLE)) / 1000000000000.0"
    "             / (CAST({p}.n_unit AS DOUBLE) * ({p}.n_unit - 1)))"
    "            * 10000.0 + 0.5) / CAST(10000.0 AS DOUBLE) END"
)

_ABTT_TAIL = (
    """
elems AS (
  SELECT vec_id, dim, CAST(FLOOR(x * 1000000.0 + 0.5) AS BIGINT) AS xi
  FROM ({unnested})
),
dmeans AS (
  SELECT dim, CAST(FLOOR(AVG(xi) + 0.5) AS BIGINT) AS md
  FROM elems GROUP BY dim
),
celems AS (
  SELECT e.vec_id, e.dim, e.xi - m.md AS xi
  FROM elems e JOIN dmeans m ON m.dim = e.dim
),"""
    + _aniso_cos_ctes("r", "elems")
    + ","
    + _aniso_cos_ctes("c", "celems")
    + f""",
counts AS (SELECT COUNT(DISTINCT vec_id) AS n_vecs FROM elems),
shift AS (
  SELECT CAST(COALESCE(SUM(md * md), 0) AS BIGINT) AS md_sq FROM dmeans
)
SELECT n.n_vecs,
       {_ABTT_COS_EXPR.format(p="rs")} AS avg_cos_raw,
       {_ABTT_COS_EXPR.format(p="cs")} AS avg_cos_centered,
       FLOOR((sqrt(CAST(sh.md_sq AS DOUBLE)) / 1000000.0) * 10000.0 + 0.5)
         / CAST(10000.0 AS DOUBLE) AS removed_mean_norm
FROM counts n
CROSS JOIN rstat rs CROSS JOIN cstat cs CROSS JOIN shift sh
"""
)


def embedding_abtt_audit(emb: DataFrame) -> DataFrame:
    """L7c: the All-but-the-Top fix measured — average pairwise cosine
    before and after corpus-mean removal (both via L7b's exact
    sum-vector identity), plus the removed mean's norm. A large
    raw-vs-centered gap means the common direction explains the cosine
    inflation and mean removal should precede every cosine-threshold
    op; a small gap means the anisotropy is higher-rank and needs the
    full ABTT projection (or is simply absent).

    Scale shape: L7b twice plus one dim-sized mean relation (broadcast
    into the centering projection) — still aggregates and scalar folds
    only, no pair join ever exists."""
    with scoped_temp_view(
        emb.where("embedding IS NOT NULL"), "_llm_emb"
    ) as ev:
        return emb.sparkSession.sql(
            "WITH "
            + _ABTT_TAIL.format(
                unnested=(
                    f"SELECT vec_id, pos AS dim, CAST(v AS DOUBLE) AS x"
                    f" FROM {ev} LATERAL VIEW posexplode(embedding) t AS pos, v"
                ),
            )
        )


ORACLE_EMBEDDING_ABTT = "WITH " + _ABTT_TAIL.format(
    unnested=(
        "SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,"
        " CAST(unnest(embedding) AS DOUBLE) AS x"
        " FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL)"
    ),
)


def embedding_anisotropy(emb: DataFrame) -> DataFrame:
    """L7b: one-row anisotropy audit — vector-norm mean, mean-vector
    norm (the "common direction" strength All-but-the-Top removes), and
    the EXACT average pairwise cosine over all C(n,2) pairs computed in
    one pass via the sum-vector identity (see the block comment). A
    near-zero avg cosine means cosine thresholds elsewhere in the
    catalog mean what they say; a large one means they are inflated by
    the common direction and mean-removal should run first.

    Scale shape: two explode aggregates (vec-keyed, dim-keyed) and
    dim-sized scalar folds — no pair join EVER exists; zero-norm
    vectors are counted and excluded from the unit-vector statistics."""
    with scoped_temp_view(
        emb.where("embedding IS NOT NULL"), "_llm_emb"
    ) as ev:
        return emb.sparkSession.sql(
            "WITH "
            + _ANISOTROPY_TAIL.format(
                unnested=(
                    f"SELECT vec_id, pos AS dim, CAST(v AS DOUBLE) AS x"
                    f" FROM {ev} LATERAL VIEW posexplode(embedding) t AS pos, v"
                ),
            )
        )


ORACLE_EMBEDDING_ANISOTROPY = "WITH " + _ANISOTROPY_TAIL.format(
    unnested=(
        "SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,"
        " CAST(unnest(embedding) AS DOUBLE) AS x"
        " FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL)"
    ),
)


# ==========================================================================
# L8 — one k-means (Lloyd) step over the embeddings
# ==========================================================================
KMEANS_K = 8  # centroids = embeddings of vec_id 0..7 (deterministic seed)

_KMEANS_TAIL = """
centroids AS (
  SELECT vec_id AS centroid_id, nv AS cv FROM normed WHERE vec_id < {k}
),
assigned AS (
  SELECT vec_id, centroid_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cos_sim DESC, centroid_id) AS rnk
  FROM (
    SELECT n.vec_id, c.centroid_id,
           CAST(FLOOR(({dot}) * 1000000.0 + 0.5) AS BIGINT) AS cos_sim
    FROM normed n JOIN centroids c ON 1 = 1
  )
)
SELECT centroid_id,
       COUNT(*) AS cluster_size,
       FLOOR((CAST(SUM(cos_sim) AS DOUBLE) / COUNT(*) / 1000000.0)
             * 1000000.0 + 0.5) / CAST(1000000.0 AS DOUBLE) AS mean_sim,
       MIN(vec_id) AS min_member,
       MAX(vec_id) AS max_member
FROM assigned WHERE rnk = 1
GROUP BY centroid_id
ORDER BY centroid_id
"""

_NORM_SPARK = (
    "sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
    " 0D, (acc, x) -> acc + x))"
)
_DOT_SPARK = (
    "aggregate(zip_with(n.nv, c.cv, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
)


def kmeans_step(emb: DataFrame) -> DataFrame:
    """L8: one Lloyd assignment step — assign every vector to its
    nearest-by-cosine of {k} deterministic seed centroids (the embeddings
    of vec_id 0..{km1}), reporting per-cluster size and mean similarity.
    The training half of the IVF index (:func:`.similarity.ann_ivf` is
    the probe half). The centroid side is {k} rows — broadcast at any
    corpus scale; similarities are snapped to scaled integers before the
    cross-row mean.""".format(k=KMEANS_K, km1=KMEANS_K - 1)
    with scoped_temp_view(
        emb.where("embedding IS NOT NULL"), "_llm_emb"
    ) as ev:
        return emb.sparkSession.sql(
            "WITH normed AS (SELECT vec_id,"
            f" transform(embedding, x -> CASE WHEN {_NORM_SPARK} = 0 THEN CAST(0.0 AS DOUBLE) ELSE CAST(x AS DOUBLE) / {_NORM_SPARK} END) AS nv"
            f" FROM {ev}),\n"
            + _KMEANS_TAIL.format(k=KMEANS_K, dot=_DOT_SPARK)
        )


# ==========================================================================
# L8b — k-step Lloyd training loop (the IVF/PQ codebook trainer)
# ==========================================================================
KMEANS_TRAIN_STEPS = 3

_KM_ELEMS_SPARK = (
    "SELECT vec_id, pos AS dim,"
    " CAST(FLOOR(CAST(v AS DOUBLE) * {scale} + 0.5) AS BIGINT) AS sv"
    " FROM {src} LATERAL VIEW posexplode(embedding) t AS pos, v"
)
#: the array form of the same snap — element i is dim i, value-identical
#: to the exploded relation's (dim, sv) rows (NULL elements snap to NULL)
_KM_VECS_SPARK = (
    "SELECT vec_id,"
    " transform(embedding, x ->"
    " CAST(FLOOR(CAST(x AS DOUBLE) * {scale} + 0.5) AS BIGINT)) AS sv_arr"
    " FROM {src}"
)
_KM_ELEMS_DUCK = (
    "SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,"
    " CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * {scale} + 0.5)"
    " AS BIGINT) AS sv"
    " FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL)"
)


def _km_step_tail(p: str, mat: str = "") -> str:
    """Everything downstream of the ``d2`` relation — the winner pick,
    the per-cluster stats, and the per-(cid, dim) centroid update.
    Shared VERBATIM between the oracle's unrolled chain and both Spark
    formulations (join-``d2`` and array-``d2``), so the step's exact
    integer/DECIMAL arithmetic has exactly one definition."""
    return f"""
{p}w AS {mat}(
  SELECT vec_id, cid, d2 FROM (
    SELECT vec_id, cid, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY d2, cid) AS rnk
    FROM {p}d2) rr WHERE rnk = 1
),
{p}st AS (
  SELECT cid, CAST(COUNT(*) AS BIGINT) AS cluster_size,
         CAST(FLOOR(CAST(SUM(CAST(d2 AS DECIMAL(38,0))) AS DOUBLE)
                    / COUNT(*) + 0.5) AS BIGINT) AS avg_d2
  FROM {p}w GROUP BY cid
),
{p}u AS (
  SELECT w.cid, e.dim,
         CAST(FLOOR(CAST(SUM(CAST(e.sv AS DECIMAL(38,0))) AS DOUBLE)
                    / COUNT(*) + 0.5) AS BIGINT) AS cv
  FROM {p}w w JOIN elems e ON w.vec_id = e.vec_id
  GROUP BY w.cid, e.dim
)"""


def _km_step_sql(cents: str, p: str, mat: str = "") -> str:
    """One Lloyd step over snapped-integer elements: exact squared-L2
    assignment (BIGINT per pair), per-cluster mean distance (DECIMAL
    accumulator before the snap), and the per-(cid, dim) centroid
    update. The oracle's unrolled chain uses this join-``d2`` form;
    the Spark loop uses :func:`_km_step_sql_spark` (array-``d2``) with
    the identical :func:`_km_step_tail` — the driver's hash compare of
    ``embedding_kmeans_train`` against the oracle is the differential
    proof the two ``d2`` formulations agree."""
    return f"""
{p}d2 AS {mat}(
  SELECT e.vec_id, c.cid,
         CAST(SUM((e.sv - c.cv) * (e.sv - c.cv)) AS BIGINT) AS d2
  FROM elems e JOIN {cents} c ON e.dim = c.dim
  GROUP BY e.vec_id, c.cid
),""" + _km_step_tail(p, mat)


def _km_step_sql_spark(cents: str, vecs: str, p: str) -> str:
    """The Spark-side step head (r14, guide §1.2 step 1 + §2.3): ``d2``
    as an array fold over snapped vectors × the k broadcast centroid
    arrays, replacing the join that materialized and re-aggregated an
    (n_vec × k × dims)-row intermediate per step — the step's dominant
    stage (8.2 M rows at sf0.1's n=2000, k=64, d=64; a production
    codebook at n=10⁹ × k=4096 would generate 10¹⁴ rows where the fold
    form streams n × k array rows through codegen with no per-dim
    re-aggregation). Exact-arithmetic equivalence with the join form,
    term by term:

    - a (vec, cid) pair EXISTS in join-``d2`` iff both sides have ≥1
      dim row → ``least(size(sv_arr), size(cv_arr)) >= 1``;
    - ``SUM`` skips NULL addends (NULL embedding elements snap to NULL
      sv; a ragged pair's unmatched dims never join) → the zipped
      term list is ``filter``-ed to non-NULL ((x−y)·(x−y) is NULL iff
      either side is, and ``zip_with`` pads the shorter array with
      NULL — exactly the unmatched-dim case);
    - an all-NULL ``SUM`` is NULL → empty filtered list yields NULL;
    - the fold is BIGINT addition, associative and exact.

    Downstream (``w``/``st``/``u``) is :func:`_km_step_tail`, verbatim
    — including NULL-``d2`` ordering, which never reaches a divergent
    NULLS-placement branch because pair rows exist exactly as before."""
    return f"""
{p}carr AS (
  SELECT cid,
         transform(array_sort(collect_list(struct(dim, cv))),
                   s -> s.cv) AS cv_arr
  FROM {cents} GROUP BY cid
),
{p}d2 AS (
  SELECT vec_id, cid,
         CASE WHEN size(terms) = 0 THEN CAST(NULL AS BIGINT)
              ELSE aggregate(terms, CAST(0 AS BIGINT),
                             (acc, t) -> acc + t) END AS d2
  FROM (
    SELECT /*+ BROADCAST(c) */ v.vec_id, c.cid,
           filter(zip_with(v.sv_arr, c.cv_arr,
                           (x, y) -> (x - y) * (x - y)),
                  t -> t IS NOT NULL) AS terms
    FROM {vecs} v CROSS JOIN {p}carr c
    WHERE least(size(v.sv_arr), size(c.cv_arr)) >= 1
  ) pairs
),""" + _km_step_tail(p)


def _km_train(
    emb: DataFrame, steps: int, k: int = KMEANS_K
) -> tuple[list[tuple], DataFrame]:
    """The Spark-side training loop, DataFrame-centroid form: centroids
    live in a (cid, dim, cv) DataFrame joined into each step's query
    through a scoped temp view (a broadcast-sized relation at any k —
    never SQL literals), and the driver collects only per-step
    per-cluster SCALARS (cluster_size, avg_d2, shift2): k rows a step,
    never k × dims values. The previous shape shipped the centroids as
    a VALUES literal and collected the k × dims update each step — fine
    at k=8 × d=64, but a production IVF codebook (k=4096-65536,
    d=512-1024) makes the per-step SQL string and the collect 10⁶-10⁷
    literals: the same driver-bottleneck class the BPE loop's plan
    blowup was (pinned here by
    tests/test_plans.py::test_kmeans_train_bounded_driver_payload_at_k64).

    Plan/lineage bounds: the snapped-element relation is built once and
    persisted across steps (one corpus explode total — the old form
    re-scanned twice per step); each step's merged-centroid relation is
    ``localCheckpoint``'ed (plan cut to a LogicalRDD), and exactly one
    retired anchor is released per step (the BPE anchor discipline —
    see ``BPE_CHECKPOINT_EVERY``'s block comment for why persisting
    every iteration is the trap).

    Returns (stats rows, final-centroid DataFrame (cid, dim, cv) —
    checkpointed, so it outlives the scoped views; callers that keep it
    must eventually :func:`_retire_anchor` it)."""
    spark = emb.sparkSession
    rows: list[tuple] = []
    with scoped_temp_view(
        emb.where("embedding IS NOT NULL"), "_llm_emb"
    ) as ev:
        # ONE persisted corpus-sized relation: the snapped vectors in
        # array form (the d2 fold reads it directly); the exploded
        # (vec_id, dim, sv) relation the update step joins is a cheap
        # per-step projection of the same cached arrays — identical
        # values, half the cached footprint of persisting both
        vecs_df = spark.sql(
            _KM_VECS_SPARK.format(scale=EMBED_SCALE, src=ev)
        ).persist()
        elems_df = vecs_df.selectExpr(
            "vec_id", "posexplode(sv_arr) AS (dim, sv)"
        )
        try:
            anchor = durable_checkpoint(
                elems_df.where(f"vec_id < {k}")
                .selectExpr("vec_id AS cid", "dim", "sv AS cv")
            )
            if not anchor.take(1):  # empty corpus: no centroids, no steps
                return rows, anchor
            for step in range(1, steps + 1):
                with scoped_temp_view(
                    vecs_df, "_km_vecs"
                ) as vv, scoped_temp_view(
                    elems_df, "_km_elems"
                ) as elv, scoped_temp_view(anchor, "_km_cents") as ctv:
                    # one job per step: assignment stats, the
                    # COALESCE-merged centroid update (empty clusters
                    # keep their centroid), and the old value per (cid,
                    # dim) for the exact integer shift — all checkpointed
                    # as the next step's anchor
                    combined = durable_checkpoint(spark.sql(
                        f"WITH vecs AS (SELECT vec_id, sv_arr FROM {vv}),\n"
                        f"elems AS (SELECT vec_id, dim, sv FROM {elv}),"
                        + _km_step_sql_spark(ctv, "vecs", "")
                        + f"""
SELECT c.cid, c.dim, COALESCE(u.cv, c.cv) AS cv, c.cv AS old_cv,
       s.cluster_size, s.avg_d2
FROM {ctv} c
LEFT JOIN u ON u.cid = c.cid AND u.dim = c.dim
LEFT JOIN st s ON s.cid = c.cid
"""
                    ))
                _retire_anchor(anchor)
                anchor = combined
                # per-step driver payload: k scalar rows (empty clusters
                # emit no row, as in the oracle's unrolled chain)
                stats = (
                    combined.where("cluster_size IS NOT NULL")
                    .groupBy("cid", "cluster_size", "avg_d2")
                    .agg(
                        F.sum(
                            (F.col("cv") - F.col("old_cv"))
                            * (F.col("cv") - F.col("old_cv"))
                        )
                        .cast("bigint")
                        .alias("shift2")
                    )
                    .collect()
                )
                for r in sorted(stats, key=lambda r: r.cid):
                    rows.append(
                        (step, r.cid, r.cluster_size, r.avg_d2, r.shift2)
                    )
            # the anchor itself (a LogicalRDD — _retire_anchor-able by
            # callers), carrying at least (cid, dim, cv); steps >= 1
            # anchors also carry the step's stat columns
            return rows, anchor
        finally:
            vecs_df.unpersist()


def embedding_kmeans_train(emb: DataFrame) -> DataFrame:
    """L8b: {n} full Lloyd iterations — the training loop behind every
    IVF coarse quantizer and PQ codebook in the ANN suite (L8 is one
    assignment step; this converges the centroids). Per (step,
    centroid): cluster size, snapped mean squared distance (the
    within-cluster inertia a training curve tracks), and the exact
    integer squared shift the update produced — shift2 -> 0 IS
    convergence. All arithmetic runs in the snapped-integer domain
    (DECIMAL accumulators), so every value is bit-stable under any
    partitioning and the oracle's unrolled {n}-step chain matches
    exactly. Empty clusters keep their centroid (and emit no row, in
    both engines).""".format(n=KMEANS_TRAIN_STEPS)
    return kmeans_train_k(emb, KMEANS_TRAIN_STEPS, KMEANS_K)


def kmeans_train_k(emb: DataFrame, steps: int, k: int) -> DataFrame:
    """L8b at caller-chosen (steps, k) — the codebook-scale form (the
    bench runs k=64; production IVF codebooks run k=4096+). Same
    bounded contract at any size: centroids join as a DataFrame, the
    driver sees only per-step scalars (pinned by
    tests/test_plans.py::test_kmeans_train_bounded_driver_payload_at_k64)."""
    rows, cents_df = _km_train(emb, steps, k)
    _retire_anchor(cents_df)  # stats-only caller: free the final anchor
    return emb.sparkSession.createDataFrame(
        rows,
        "step bigint, centroid_id bigint, cluster_size bigint,"
        " avg_d2 bigint, shift2 bigint",
    )


def km_trained_centroids_df(
    emb: DataFrame, steps: int = KMEANS_TRAIN_STEPS, k: int = KMEANS_K
) -> DataFrame:
    """Final Lloyd centroids as a ``(label, centroid double[])``
    DataFrame in the original embedding scale — what
    :func:`..sources.ann_index.write_ann_index` persists as a TRAINED
    coarse quantizer in place of the label-mean one. The centroids
    never round-trip through the driver (the k × dims payload stays
    executor-side end to end — index builds write this frame straight
    to parquet). Deterministic: the training arithmetic is all snapped
    integers; the descale is one exact double division per component,
    identical to the former driver-side ``/ EMBED_SCALE``."""
    _, cents_df = _km_train(emb, steps, k)
    out = durable_checkpoint(
        cents_df.selectExpr("cid", "dim", "cv")
        .groupBy("cid")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, cv))),"
                f" s -> CAST(s.cv AS DOUBLE) / {EMBED_SCALE})"
            ).alias("centroid")
        )
        .selectExpr("CAST(cid AS BIGINT) AS label", "centroid")
        # k rows: checkpoint the folded form so the (k × dims)-row
        # training anchor can be released NOW instead of riding along
        # under every downstream consumer
    )
    _retire_anchor(cents_df)
    return out


def _km_train_oracle(steps: int) -> str:
    elems = _KM_ELEMS_DUCK.format(scale=EMBED_SCALE)
    parts = [
        f"WITH elems AS MATERIALIZED ({elems}),",
        f"cents1 AS MATERIALIZED (SELECT vec_id AS cid, dim, sv AS cv"
        f" FROM elems WHERE vec_id < {KMEANS_K}),",
    ]
    for s in range(1, steps + 1):
        parts.append(
            _km_step_sql(f"cents{s}", f"s{s}", mat="MATERIALIZED ") + ","
        )
        parts.append(f"""cents{s + 1} AS MATERIALIZED (
  SELECT c.cid, c.dim, COALESCE(u.cv, c.cv) AS cv
  FROM cents{s} c LEFT JOIN s{s}u u ON u.cid = c.cid AND u.dim = c.dim
),
s{s}sh AS (
  SELECT a.cid,
         CAST(SUM((b.cv - a.cv) * (b.cv - a.cv)) AS BIGINT) AS shift2
  FROM cents{s} a JOIN cents{s + 1} b
    ON a.cid = b.cid AND a.dim = b.dim
  GROUP BY a.cid
),""")
    selects = [
        f"SELECT CAST({s} AS BIGINT) AS step, st.cid AS centroid_id,"
        f" st.cluster_size, st.avg_d2, sh.shift2"
        f" FROM s{s}st st JOIN s{s}sh sh ON st.cid = sh.cid"
        for s in range(1, steps + 1)
    ]
    body = "".join(parts)
    return body.rstrip(",\n") + "\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY step, centroid_id"


ORACLE_KMEANS_TRAIN = _km_train_oracle(KMEANS_TRAIN_STEPS)


ORACLE_KMEANS_STEP = (
    "WITH normed AS (SELECT vec_id,"
    " list_transform(CAST(embedding AS DOUBLE[]),"
    " x -> CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]),"
    " CAST(embedding AS DOUBLE[])) = 0 THEN CAST(0.0 AS DOUBLE)"
    " ELSE x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),"
    " CAST(embedding AS DOUBLE[]))) END) AS nv FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL)),\n"
    + _KMEANS_TAIL.format(k=KMEANS_K, dot="list_dot_product(n.nv, c.cv)")
)


# ==========================================================================
# L15 — document chunking (fixed token windows with overlap)
# ==========================================================================
#: The training-prep step that turns documents into model-context-sized
#: sequences: CHUNK_SIZE-token windows advancing by CHUNK_SIZE - OVERLAP
#: tokens (trailing partial window kept). Per-chunk md5 lets downstream
#: chunk-level dedup run without re-materializing text.
CHUNK_SIZE = 32
CHUNK_OVERLAP = 8
_CHUNK_STRIDE = CHUNK_SIZE - CHUNK_OVERLAP


def chunk_documents(docs: DataFrame) -> DataFrame:
    """L15: split each document into {size}-token chunks with {ov}-token
    overlap (stride {stride}); emits (doc_id, chunk_idx, chunk_start,
    chunk_len, chunk_hash). The window arithmetic is a per-row
    sequence-explode — one Generate over the scan, chunk text never
    shuffles (only its md5 would, in a downstream dedup). The DuckDB twin
    states the same windows via generate_series + list_slice, so the
    fold-vs-slice spellings differentially check each other.""".format(
        size=CHUNK_SIZE, ov=CHUNK_OVERLAP, stride=_CHUNK_STRIDE
    )
    s = _CHUNK_STRIDE
    with scoped_temp_view(docs, "_llm_docs") as dv:
        return docs.sparkSession.sql(f"""
WITH toks AS (SELECT doc_id, {_TOKENS_SPARK} AS t FROM {dv}),
chunks AS (
  SELECT doc_id, t,
         explode(sequence(0,
           CAST(CEIL(size(t) / {s}.0) AS INT) - 1)) AS chunk_idx
  FROM toks WHERE size(t) > 0
)
SELECT doc_id, chunk_idx,
       chunk_idx * {s} AS chunk_start,
       size(slice(t, chunk_idx * {s} + 1, {CHUNK_SIZE})) AS chunk_len,
       md5(concat_ws(' ', slice(t, chunk_idx * {s} + 1, {CHUNK_SIZE})))
         AS chunk_hash
FROM chunks
ORDER BY doc_id, chunk_idx
""")


ORACLE_CHUNK_DOCUMENTS = f"""
WITH toks AS (SELECT doc_id, {_TOKENS_DUCK} AS t FROM documents),
chunks AS (
  SELECT doc_id, t,
         unnest(range(0, CAST(CEIL(len(t) / {_CHUNK_STRIDE}.0) AS INT)))
           AS chunk_idx
  FROM toks WHERE len(t) > 0
)
SELECT doc_id, chunk_idx,
       chunk_idx * {_CHUNK_STRIDE} AS chunk_start,
       len(list_slice(t, chunk_idx * {_CHUNK_STRIDE} + 1,
                      chunk_idx * {_CHUNK_STRIDE} + {CHUNK_SIZE})) AS chunk_len,
       md5(array_to_string(list_slice(t, chunk_idx * {_CHUNK_STRIDE} + 1,
                           chunk_idx * {_CHUNK_STRIDE} + {CHUNK_SIZE}), ' '))
         AS chunk_hash
FROM chunks
ORDER BY doc_id, chunk_idx
"""


# ==========================================================================
# L14 — embedding outlier detection (per-label centroid-distance z-score)
# ==========================================================================
#: The embedding-health audit before ANN index build / semantic dedup:
#: vectors far from their own label's centroid are mislabeled points,
#: encoder failures, or contamination. All arithmetic rides the snapped
#: integer pattern: elements snap to EMBED_SCALE ints, per-dim squared
#: deviations snap to ints before the cross-dim SUM, and the squared
#: distance is down-scaled so per-label variance accumulators stay far
#: inside BIGINT.
OUTLIER_Z = 2.0
#: down-scale for the squared distance (scaled² units → milli units)
_SQD_DOWNSCALE = 100000000.0

_OUTLIER_TAIL = """
elems AS (
  SELECT vec_id, label, dim,
         CAST(FLOOR(v * {scale} + 0.5) AS BIGINT) AS sv
  FROM ({unnested})
),
cent AS (
  SELECT label, dim, COUNT(*) AS n,
         CAST(SUM(sv) AS BIGINT) AS ssum
  FROM elems GROUP BY label, dim
),
devs AS (
  SELECT e.vec_id, e.label,
         CAST(FLOOR((e.sv - CAST(c.ssum AS DOUBLE) / c.n)
                    * (e.sv - CAST(c.ssum AS DOUBLE) / c.n) + 0.5) AS BIGINT)
           AS sqdev
  FROM elems e JOIN cent c ON e.label = c.label AND e.dim = c.dim
),
dists AS (
  SELECT vec_id, label,
         CAST(FLOOR(CAST(SUM(sqdev) AS DOUBLE) / {down}) AS BIGINT) AS sqd
  FROM devs GROUP BY vec_id, label
),
lstats AS (
  -- s2 accumulates in DECIMAL(38,0): each sqd*sqd term is ~6.6e12 (fits
  -- BIGINT), but SUMming them overflows BIGINT past ~1.4e6 vectors per
  -- label; decimal-38 headroom (1e38) is unreachable at any corpus
  -- size and the arithmetic stays exact in both engines.
  SELECT label, COUNT(*) AS n,
         CAST(SUM(sqd) AS BIGINT) AS s1,
         SUM(CAST(sqd AS DECIMAL(19, 0)) * CAST(sqd AS DECIMAL(19, 0))) AS s2
  FROM dists GROUP BY label
),
scored AS (
  SELECT d.vec_id, d.label, d.sqd,
         CASE WHEN s.n < 2
                OR (CAST(s.s2 AS DOUBLE) / s.n)
                   - (CAST(s.s1 AS DOUBLE) / s.n) * (CAST(s.s1 AS DOUBLE) / s.n)
                   <= 0.0
              THEN CAST(0.0 AS DOUBLE)
              ELSE FLOOR(((d.sqd - CAST(s.s1 AS DOUBLE) / s.n)
                          / sqrt((CAST(s.s2 AS DOUBLE) / s.n)
                                 - (CAST(s.s1 AS DOUBLE) / s.n)
                                   * (CAST(s.s1 AS DOUBLE) / s.n)))
                         * 10000.0 + 0.5) / CAST(10000.0 AS DOUBLE)
         END AS z_score
  FROM dists d JOIN lstats s ON d.label = s.label
)
SELECT vec_id, label, sqd AS sq_dist_scaled, z_score,
       (z_score >= {z} OR z_score <= -{z}) AS is_outlier
FROM scored
ORDER BY label, vec_id
"""


def embedding_outliers(emb: DataFrame) -> DataFrame:
    """L14: flag vectors whose squared distance to their own label's
    centroid sits >= {z} standard deviations from the label mean — the
    mislabeled-point / encoder-failure / contamination audit run before
    ANN index builds and semantic dedup.

    Scale shape: two keyed aggregations ((label, dim) centroids — a
    relation bounded by #labels x dims, broadcast-sized — then a vec_id
    re-aggregate) and one tiny per-label stats join. Everything wide is
    keyed on vec_id or (label, dim); no window functions, no Python, no
    all-pairs anything.""".format(z=OUTLIER_Z)
    with scoped_temp_view(
        emb.where("embedding IS NOT NULL"), "_llm_emb"
    ) as ev:
        return emb.sparkSession.sql(
            "WITH "
            + _OUTLIER_TAIL.format(
                scale=EMBED_SCALE,
                down=_SQD_DOWNSCALE,
                z=OUTLIER_Z,
                unnested=(
                    "SELECT vec_id, label, pos AS dim, CAST(v AS DOUBLE) AS v"
                    f" FROM {ev} LATERAL VIEW posexplode(embedding) t AS pos, v"
                ),
            )
        )


ORACLE_EMBEDDING_OUTLIERS = "WITH " + _OUTLIER_TAIL.format(
    scale=EMBED_SCALE,
    down=_SQD_DOWNSCALE,
    z=OUTLIER_Z,
    unnested=(
        "SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS dim,"
        " CAST(unnest(embedding) AS DOUBLE) AS v FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL)"
    ),
)


# ==========================================================================
# L13 — semantic dedup (cluster-then-prune, SemDeDup-style)
# ==========================================================================
#: within-cluster cosine above this ⇒ semantic duplicates (matched to the
#: synthetic embeddings' similarity range, like dedup.COSINE_DUP_THRESHOLD)
SEM_DEDUP_TAU = 0.4

_SEM_ASSIGN_CTES = """
centroids AS (
  SELECT vec_id AS centroid_id, nv AS cv FROM normed WHERE vec_id < {k}
),
assigned_ids AS (
  -- rank on scalars only: the similarity is projected BEFORE the window
  -- shuffle, so the per-vector × per-centroid exchange carries
  -- (vec_id, centroid_id, cos) rows, never the embedding arrays
  SELECT vec_id, centroid_id FROM (
    SELECT n.vec_id, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY n.vec_id
                              ORDER BY CAST(FLOOR(({dot}) * 1000000.0 + 0.5) AS BIGINT) DESC,
                                       c.centroid_id) AS rnk
    FROM normed n JOIN centroids c ON 1 = 1
  ) WHERE rnk = 1
),
assigned AS (
  SELECT s.vec_id, s.centroid_id, n.nv
  FROM assigned_ids s JOIN normed n ON n.vec_id = s.vec_id
)"""

_SEM_PRUNE_TAIL = """
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    -- conjunct order is load-bearing even for this equi-join: the
    -- non-equi residual runs interpreted per matched pair in written
    -- order, and a WHERE-form threshold gets merged in FIRST — the fold
    -- then runs before the cheap id check (measured 1.8×; same family
    -- as the BNLJ conjunct rule dedup's pair loops carried before the
    -- r09 block kernel; dedup._COS_PAIRS_TAIL keeps the measured note)
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
   AND CAST(FLOOR(({dotp}) * 1000000.0 + 0.5) AS BIGINT) >= {tau_int}
)
SELECT a.vec_id, a.centroid_id AS cluster_id,
       d.vec_id IS NULL AS is_kept
FROM assigned a LEFT JOIN dropped d ON d.vec_id = a.vec_id
ORDER BY a.vec_id
"""


def semantic_dedup(emb: DataFrame) -> DataFrame:
    """L13: semantic deduplication, SemDeDup-style (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus, then prune near-duplicates
    WITHIN each cluster only — the trick that turns an O(n²) corpus-wide
    cosine scan into per-cluster quadratics bounded by cluster size.

    Clustering reuses the deterministic seed centroids of
    :func:`kmeans_step` (broadcast at any scale); the keep rule is
    deterministic (lowest vec_id of a qualifying pair survives — the
    paper keeps a random/centroid-distance representative; determinism is
    required for the differential oracle). At 100 TB: centroids broadcast,
    the only wide exchange keys on centroid_id, and the pair join touches
    pre-normalized vectors within a cluster partition.
    """
    from .dedup import _materialized_df

    spark = emb.sparkSession

    # the assigned relation (normed vector + centroid label) feeds the
    # pair-prune self-join (2 refs) AND the final projection — inlined
    # CTEs would re-run the broadcast-assignment 3×, so it serves from
    # the keyed materialized cache like shingles/band keys
    def build_assigned():
        with scoped_temp_view(
            emb.where("embedding IS NOT NULL"), "_llm_emb"
        ) as ev:
            return spark.sql(
                "WITH normed AS (SELECT vec_id,"
                f" transform(embedding, x -> CASE WHEN {_NORM_SPARK} = 0 THEN CAST(0.0 AS DOUBLE) ELSE CAST(x AS DOUBLE) / {_NORM_SPARK} END) AS nv"
                f" FROM {ev}),\n"
                + _SEM_ASSIGN_CTES.format(k=KMEANS_K, dot=_DOT_SPARK)
                + "\nSELECT vec_id, centroid_id, nv FROM assigned"
            )

    assigned = _materialized_df(
        spark, "_sem_assigned", emb.semanticHash(), build_assigned
    )
    with scoped_temp_view(assigned, "_sem_assigned") as av:
        return spark.sql(
            f"WITH assigned AS (SELECT vec_id, centroid_id, nv FROM {av}),\n"
            + _SEM_PRUNE_TAIL.format(
                dotp="aggregate(zip_with(a.nv, b.nv, (x, y) -> x * y), 0D,"
                " (acc, x) -> acc + x)",
                tau_int=int(SEM_DEDUP_TAU * 1_000_000),
            )
        )


ORACLE_SEMANTIC_DEDUP = (
    "WITH normed AS (SELECT vec_id,"
    " list_transform(CAST(embedding AS DOUBLE[]),"
    " x -> CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]),"
    " CAST(embedding AS DOUBLE[])) = 0 THEN CAST(0.0 AS DOUBLE)"
    " ELSE x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),"
    " CAST(embedding AS DOUBLE[]))) END) AS nv FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL)),\n"
    + _SEM_ASSIGN_CTES.format(k=KMEANS_K, dot="list_dot_product(n.nv, c.cv)")
    + ",\n"
    + _SEM_PRUNE_TAIL.format(
        dotp="list_dot_product(a.nv, b.nv)",
        tau_int=int(SEM_DEDUP_TAU * 1_000_000),
    )
)


# ==========================================================================
# L9b — semantic cluster × source composition (cluster-balance audit)
# ==========================================================================
#: The curation question SemDeDup/DCLM-style pipelines ask after
#: clustering: is any semantic cluster dominated by one source? A topic
#: owned by a single crawl domain is a contamination/bias risk the
#: per-source token counts can't see (they ignore topic structure) and
#: the per-cluster sizes can't see (they ignore provenance). One row per
#: (cluster, source): doc count, token mass, share of the cluster.
#: Engine-shared tail; cluster assignment reuses L9's seed-centroid
#: CTEs. NULL source is a real group (GROUP BY keeps it identically in
#: both engines); ordering pins NULLS FIRST explicitly because the
#: engines' defaults differ.
_SEM_MIX_TAIL = """
joined AS (
  SELECT a.centroid_id, d.source, {toksz} AS n_tokens
  FROM assigned_ids a JOIN {docsrc} d ON d.doc_id = a.vec_id
),
per_cell AS (
  SELECT centroid_id, source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         -- COALESCE: a cell whose every doc has NULL text sums to NULL
         -- (SUM skips NULL rows; a NULL-text doc contributes 0 tokens
         -- semantically) — and a nullable BIGINT would also come back
         -- float64 through the driver's pandas path (hash-class pinned
         -- by test_no_float_canonicalization_of_integral_columns)
         CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS n_tokens
  FROM joined GROUP BY centroid_id, source
),
per_cluster AS (
  SELECT centroid_id, CAST(SUM(n_docs) AS BIGINT) AS cluster_docs
  FROM per_cell GROUP BY centroid_id
)
SELECT c.centroid_id, c.source, c.n_docs, c.n_tokens,
       FLOOR((CAST(c.n_docs AS DOUBLE) / t.cluster_docs) * 10000.0 + 0.5)
         / CAST(100.0 AS DOUBLE) AS share_pct
FROM per_cell c JOIN per_cluster t ON c.centroid_id = t.centroid_id
ORDER BY c.centroid_id, c.source NULLS FIRST
"""


def semantic_source_mix(docs: DataFrame, emb: DataFrame) -> DataFrame:
    """L9b: per-(semantic cluster, source) composition — every vector
    assigned to its nearest of the {k} deterministic seed centroids
    (L9's quantizer), joined to its document's provenance, aggregated to
    (cluster, source) cells with each cell's share of its cluster.

    Scale shape: the centroid side is {k} rows (broadcast at any corpus
    size); the only wide exchanges key on vec_id/doc_id and then the
    (cluster, source)-bounded cells; shares come from a #clusters-row
    aggregate joined back (broadcast) — no windows over data-sized
    relations, embeddings never read after assignment, text reduced to
    a token count in the same scan that joins it.""".format(k=KMEANS_K)
    spark = emb.sparkSession
    with scoped_temp_view(
        emb.where("embedding IS NOT NULL"), "_llm_emb"
    ) as ev, scoped_temp_view(docs, "_llm_docs") as dv:
        return spark.sql(
            "WITH normed AS (SELECT vec_id,"
            f" transform(embedding, x -> CASE WHEN {_NORM_SPARK} = 0 THEN CAST(0.0 AS DOUBLE) ELSE CAST(x AS DOUBLE) / {_NORM_SPARK} END) AS nv"
            f" FROM {ev}),\n"
            + _SEM_ASSIGN_CTES.format(k=KMEANS_K, dot=_DOT_SPARK)
            + ",\n"
            + _SEM_MIX_TAIL.format(
                toksz=f"size({_TOKENS_SPARK})", docsrc=dv
            )
        )


ORACLE_SEMANTIC_SOURCE_MIX = (
    "WITH normed AS (SELECT vec_id,"
    " list_transform(CAST(embedding AS DOUBLE[]),"
    " x -> CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]),"
    " CAST(embedding AS DOUBLE[])) = 0 THEN CAST(0.0 AS DOUBLE)"
    " ELSE x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),"
    " CAST(embedding AS DOUBLE[]))) END) AS nv FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL)),\n"
    + _SEM_ASSIGN_CTES.format(k=KMEANS_K, dot="list_dot_product(n.nv, c.cv)")
    + ",\n"
    + _SEM_MIX_TAIL.format(toksz=f"len({_TOKENS_DUCK})", docsrc="documents")
)


# ==========================================================================
# L10 — training manifest (the end-to-end keep/drop decision)
# ==========================================================================
def training_manifest(docs: DataFrame) -> DataFrame:
    """L10: the pipeline's final answer — per document: split assignment,
    quality score, near-dup cluster, and the keep/drop decision
    (``duplicate`` beats ``low_quality``; keepers of a cluster survive).
    Composes the deterministic hash split, the quality scorer, and the
    near-dup cluster resolution into one manifest — documents in,
    training set out.

    Scale: reuses each component's plan (shingle relation is shared via
    the materialized cache; the cluster side only carries docs with ≥1
    edge, LEFT-joined back)."""
    from pyspark.sql import functions as F

    from .corpus import dedup_clusters, hash_split  # noqa: F401 (split case below)
    from .textprep import text_quality

    clusters = dedup_clusters(docs).select(
        "doc_id", "cluster_id", "is_keeper"
    )
    quality = text_quality(docs).select(
        "doc_id", "quality_score", "quality_bucket"
    )
    bucket = _BUCKET.format(STR="STRING")
    base = docs.selectExpr(
        "doc_id",
        "lang",
        f"CASE WHEN {bucket} < {TRAIN_PCT} THEN 'train'"
        f" WHEN {bucket} < {TRAIN_PCT + VAL_PCT} THEN 'val'"
        " ELSE 'test' END AS split",
    )
    return (
        base.join(quality, "doc_id")
        .join(clusters, "doc_id", "left")
        .withColumn(
            "drop_reason",
            F.when(
                F.col("cluster_id").isNotNull() & ~F.col("is_keeper"),
                "duplicate",
            ).when(F.col("quality_bucket") == "Low", "low_quality"),
        )
        .withColumn("keep", F.col("drop_reason").isNull())
        # -1 sentinel instead of NULL for "not in any near-dup cluster":
        # a NULL-bearing bigint column turns float64 under pandas, which
        # breaks the cross-engine value hash (and is a footgun for any
        # downstream consumer reading the manifest into pandas).
        .withColumn(
            "cluster_id",
            F.coalesce(F.col("cluster_id"), F.lit(-1).cast("bigint")),
        )
        .select(
            "doc_id",
            "lang",
            "split",
            "quality_score",
            "cluster_id",
            "keep",
            "drop_reason",
        )
        .orderBy("doc_id")
    )


def _oracle_training_manifest() -> str:
    from .corpus import CC_ORACLE_CTES, _EDGE_CTES
    from .dedup import JACCARD_THRESHOLD
    from .textprep import QUALITY_STOPWORDS, _in_list, _QUALITY_EXPR

    stop = _in_list(QUALITY_STOPWORDS)
    bucket = _BUCKET.format(STR="VARCHAR")
    return (
        "WITH RECURSIVE shingles AS ("
        + _SHINGLES_DUCK
        + "),\n"
        + _EDGE_CTES.format(thr=JACCARD_THRESHOLD)
        + ","
        + CC_ORACLE_CTES
        + f""",
qbase AS (
  SELECT doc_id,
         len({_TOKENS_DUCK}) AS n_tokens,
         len(list_distinct({_TOKENS_DUCK})) AS n_distinct_tokens,
         len(list_filter({_TOKENS_DUCK}, x -> x IN ({stop}))) AS stop_hits,
         CASE WHEN length(text) = 0 THEN CAST(0.0 AS DOUBLE) ELSE
         FLOOR((CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
                / length(text)) * 10000.0 + 0.5) / CAST(10000.0 AS DOUBLE) END AS punct_ratio
  FROM documents
),
qratio AS (
  SELECT *, CASE WHEN n_tokens = 0 THEN CAST(0.0 AS DOUBLE) ELSE
            FLOOR((CAST(stop_hits AS DOUBLE) / n_tokens) * 10000.0 + 0.5)
              / CAST(10000.0 AS DOUBLE) END AS stop_ratio
  FROM qbase
),
qscored AS (SELECT doc_id, {_QUALITY_EXPR} AS quality_score FROM qratio),
assigned AS (
  SELECT doc_id, lang,
         CASE WHEN {bucket} < {TRAIN_PCT} THEN 'train'
              WHEN {bucket} < {TRAIN_PCT + VAL_PCT} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT a.doc_id, a.lang, a.split, q.quality_score,
       COALESCE(c.cluster_id, CAST(-1 AS BIGINT)) AS cluster_id,
       -- quality_score IS NULL (NULL-text document): low quality. The
       -- Spark side drops via the bucket (NULL score buckets 'Low'
       -- through the CASE ELSE); a bare `score < 0.5` here would let
       -- NULL slip through as keep=true and the engines would disagree.
       (CASE WHEN c.cluster_id IS NOT NULL AND a.doc_id <> c.cluster_id
               THEN 'duplicate'
             WHEN q.quality_score < 0.5 OR q.quality_score IS NULL
               THEN 'low_quality' END) IS NULL AS keep,
       CASE WHEN c.cluster_id IS NOT NULL AND a.doc_id <> c.cluster_id
              THEN 'duplicate'
            WHEN q.quality_score < 0.5 OR q.quality_score IS NULL
              THEN 'low_quality' END AS drop_reason
FROM assigned a
JOIN qscored q ON a.doc_id = q.doc_id
LEFT JOIN clustered c ON a.doc_id = c.doc_id
ORDER BY a.doc_id
"""
    )


ORACLE_TRAINING_MANIFEST = _oracle_training_manifest()


# ==========================================================================
# L9 — table profile (null/distinct census)
# ==========================================================================
PROFILE_COLUMNS = ("doc_id", "text", "lang", "source", "n_chars")


def profile_table(df: DataFrame, columns: tuple[str, ...] = PROFILE_COLUMNS) -> DataFrame:
    """L9: per-column data-quality census — rows, non-nulls, nulls,
    distincts — the first pass any pipeline runs over a new drop.

    Spark-first shape: ONE aggregate computes every column's counters in a
    single scan (the oracle's UNION-ALL-per-column shape would scan once
    per column), then ``stack`` pivots to the long format."""
    from pyspark.sql import functions as F

    aggs = [F.count("*").alias("_rows")]
    for c in columns:
        aggs.append(F.count(c).alias(f"_nn_{c}"))
        aggs.append(F.countDistinct(c).alias(f"_nd_{c}"))
    wide = df.agg(*aggs)
    stack_expr = ", ".join(f"'{c}', _nn_{c}, _nd_{c}" for c in columns)
    return (
        wide.selectExpr(
            "_rows AS n_rows",
            f"stack({len(columns)}, {stack_expr})"
            " AS (column_name, n_non_null, n_distinct)",
        )
        .selectExpr(
            "column_name",
            "n_rows",
            "n_non_null",
            "n_rows - n_non_null AS n_nulls",
            "n_distinct",
        )
        .orderBy("column_name")
    )


ORACLE_PROFILE = (
    "SELECT column_name, n_rows, n_non_null, n_rows - n_non_null AS n_nulls,"
    " n_distinct FROM (\n"
    + "\n  UNION ALL\n".join(
        f"SELECT '{c}' AS column_name, COUNT(*) AS n_rows,"
        f" COUNT({c}) AS n_non_null, COUNT(DISTINCT {c}) AS n_distinct"
        " FROM documents"
        for c in PROFILE_COLUMNS
    )
    + "\n) ORDER BY column_name"
)


# ==========================================================================
# L15 — PCA power-iteration step (top principal direction of embeddings)
# ==========================================================================
# One step of v' = normalize(Aᵀ(A v0) / n) over mean-centered embeddings —
# the distributed-PCA building block (embedding drift/collapse monitoring,
# whitening). Every cross-row sum goes through integer micro-snapping
# (FLOOR(x·1e6+0.5) AS BIGINT) so aggregation order cannot produce
# engine-visible differences; the per-row matvec is divided by n BEFORE
# squaring so the norm accumulator stays far from BIGINT range at any
# corpus size.
_POWER_TAIL = """
means AS (
  SELECT i, FLOOR(AVG(x) * 1000000.0 + 0.5) / CAST(1000000.0 AS DOUBLE) AS mu
  FROM dims GROUP BY i
),
scores AS (
  SELECT d.vec_id,
         SUM(CAST(FLOOR((d.x - m.mu) * v.v * 1000000.0 + 0.5) AS BIGINT))
           AS s_micro
  FROM dims d JOIN means m ON m.i = d.i JOIN v0 v ON v.i = d.i
  GROUP BY d.vec_id
),
nrows AS (SELECT COUNT(*) AS n FROM scores),
matvec AS (
  SELECT d.i,
         SUM(CAST(FLOOR((d.x - m.mu)
                        * (CAST(s.s_micro AS DOUBLE) / 1000000.0)
                        * 1000000.0 + 0.5) AS BIGINT)) AS w_micro
  FROM dims d JOIN means m ON m.i = d.i JOIN scores s ON s.vec_id = d.vec_id
  GROUP BY d.i
),
scaled AS (
  SELECT w.i,
         FLOOR((CAST(w.w_micro AS DOUBLE) / 1000000.0 / nn.n)
               * 1000000.0 + 0.5) / CAST(1000000.0 AS DOUBLE) AS wbar
  FROM matvec w CROSS JOIN nrows nn
),
nrm AS (
  SELECT SUM(CAST(FLOOR(wbar * wbar * 1000000.0 + 0.5) AS BIGINT)) AS q_micro
  FROM scaled
)
SELECT s.i AS dim, m.mu, s.wbar,
       FLOOR((s.wbar / sqrt(CAST(q.q_micro AS DOUBLE) / 1000000.0))
             * 1000000.0 + 0.5) / CAST(1000000.0 AS DOUBLE) AS v1
FROM scaled s JOIN means m ON m.i = s.i CROSS JOIN nrm q
ORDER BY dim
"""


def _power_v0_values() -> str:
    """Deterministic start vector (md5 plane family, ``p:`` namespace),
    1-based dims, inlined as a VALUES list both engines parse."""
    from ..functions.planes import md5_planes

    v0 = md5_planes("p", 1)[0]
    return ", ".join(f"({i + 1}, {v:.1f})" for i, v in enumerate(v0))


def embedding_power_iteration(emb: DataFrame) -> DataFrame:
    """L15: one power-iteration step toward the top principal component
    of the (mean-centered) embedding matrix — per-dimension mean, the
    matvec Aᵀ(A v0)/n, and the normalized next iterate v1. Iterating this
    step (swap v0 := v1) is distributed PCA; a single deterministic step
    is what the oracle can state declaratively, the same contract as
    kmeans_step (L8).

    Scale shape: two explode→groupBy passes over (vec_id, dim, value)
    triples — one keyed by dim (bounded by dimensionality), one by vec_id
    — plus dim-sized broadcast joins for means/v0; no pairwise anything.
    Integer micro-snapped accumulators make every SUM order-independent,
    so the result is bit-stable under any partitioning.
    """
    with scoped_temp_view(
        emb.where("embedding IS NOT NULL"), "_llm_emb"
    ) as ev:
        dims = (
            "dims AS (SELECT vec_id, i + 1 AS i, CAST(x AS DOUBLE) AS x FROM "
            f"(SELECT vec_id, posexplode(embedding) AS (i, x) FROM {ev}))"
        )
        v0 = f"v0 AS (SELECT i, v FROM (VALUES {_power_v0_values()}) AS t(i, v))"
        return emb.sparkSession.sql(
            "WITH " + dims + ",\n" + v0 + ",\n" + _POWER_TAIL
        )


def _oracle_power_iteration() -> str:
    dims = (
        "dims AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, "
        "CAST(unnest(embedding) AS DOUBLE) AS x FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL))"
    )
    v0 = f"v0 AS (SELECT i, v FROM (VALUES {_power_v0_values()}) AS t(i, v))"
    return "WITH " + dims + ",\n" + v0 + ",\n" + _POWER_TAIL


ORACLE_POWER_ITERATION = _oracle_power_iteration()


# ==========================================================================
# L14 — deterministic global shuffle (training-order assignment)
# ==========================================================================
#: shard count for the shuffled training order. At 100 TB this is the
#: output-file fan-out (thousands); 8 keeps the test result inspectable.
N_SHUFFLE_SHARDS = 8

# Shuffle key = md5 over a namespaced doc id — deterministic, uniform,
# engine-identical; the first key byte assigns the shard so a doc's
# placement is a pure projection (no global coordination).
_SHUF_BYTE = (
    "((position(substr(skey, 1, 1) IN '0123456789abcdef') - 1) * 16"
    " + (position(substr(skey, 2, 1) IN '0123456789abcdef') - 1))"
)

_SHUFFLE_TAIL = f"""
keyed AS (
  SELECT doc_id, n_chars, md5('sh:' || CAST(doc_id AS {{str_t}})) AS skey
  FROM {{src}}
),
sharded AS (
  SELECT doc_id, n_chars, skey, {_SHUF_BYTE} % {N_SHUFFLE_SHARDS} AS shard
  FROM keyed
)
SELECT doc_id, shard,
       ROW_NUMBER() OVER (PARTITION BY shard ORDER BY skey, doc_id)
         AS pos_in_shard,
       CAST(SUM(n_chars) OVER (PARTITION BY shard ORDER BY skey, doc_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_chars,
       skey AS shuffle_key
FROM sharded
ORDER BY shard, pos_in_shard
"""


def global_shuffle(docs: DataFrame) -> DataFrame:
    """L14: deterministic global training-order shuffle — every document
    gets a shard and a position within it, from md5 over a namespaced
    doc_id. No RNG: the order is reproducible across runs, engines, and
    input re-shards (the property epoch-shuffle pipelines need for resume
    and for mixing determinism), yet uniform enough to break any source/
    time locality in the raw corpus. ``cum_chars`` is the running payload
    size — the cut points a writer uses to split shard files.

    Scale shape: shard assignment is a pure projection; the within-shard
    order is ROW_NUMBER over (shard, key) — physically a
    repartitionByRange + sortWithinPartitions, ONE total-order shuffle of
    (doc_id, key) pairs. Document payloads follow by doc_id join or ride
    the same shuffle; nothing else moves.
    """
    with scoped_temp_view(docs, "_llm_docs") as dv:
        return docs.sparkSession.sql(
            "WITH " + _SHUFFLE_TAIL.format(str_t="STRING", src=dv)
        )


ORACLE_GLOBAL_SHUFFLE = "WITH " + _SHUFFLE_TAIL.format(
    str_t="VARCHAR", src="documents"
)


ORACLE_SQL_LLMPREP = {
    "corpus_global_shuffle": ORACLE_GLOBAL_SHUFFLE,
    "corpus_profile": ORACLE_PROFILE,
    "corpus_training_manifest": ORACLE_TRAINING_MANIFEST,
    "embedding_outliers": ORACLE_EMBEDDING_OUTLIERS,
    "corpus_chunk_documents": ORACLE_CHUNK_DOCUMENTS,
    "corpus_bpe_merge_step": ORACLE_BPE_MERGE_STEP,
    "corpus_bpe_train": ORACLE_BPE_TRAIN,
    "corpus_bpe_fertility": ORACLE_BPE_FERTILITY,
    "corpus_length_histogram": ORACLE_LENGTH_HISTOGRAM,
    "corpus_bigram_counts": ORACLE_BIGRAM_COUNTS,
    "corpus_bigram_logprob": ORACLE_BIGRAM_LOGPROB,
    "corpus_pack_sequences": ORACLE_PACK_SEQUENCES,
    "corpus_pack_fragmentation": ORACLE_PACK_FRAGMENTATION,
    "corpus_pack_sequences_sharded": ORACLE_PACK_SEQUENCES_SHARDED,
    "corpus_stratified_sample": ORACLE_STRATIFIED_SAMPLE,
    "corpus_temperature_sample": ORACLE_TEMPERATURE_SAMPLE,
    "text_pii_scrub": ORACLE_PII_SCRUB,
    "corpus_contamination": ORACLE_CONTAMINATION,
    "text_stem_normalize": ORACLE_STEM_NORMALIZE,
    "embedding_dim_stats": ORACLE_EMBEDDING_DIM_STATS,
    "embedding_int8_audit": ORACLE_INT8_AUDIT,
    "embedding_kmeans_step": ORACLE_KMEANS_STEP,
    "embedding_kmeans_train": ORACLE_KMEANS_TRAIN,
    "embedding_power_iteration": ORACLE_POWER_ITERATION,
    "embedding_semantic_dedup": ORACLE_SEMANTIC_DEDUP,
    "embedding_anisotropy": ORACLE_EMBEDDING_ANISOTROPY,
    "embedding_abtt_audit": ORACLE_EMBEDDING_ABTT,
    "corpus_semantic_source_mix": ORACLE_SEMANTIC_SOURCE_MIX,
    "corpus_bpe_encode": ORACLE_BPE_ENCODE,
    "corpus_bpe_compression": ORACLE_BPE_COMPRESSION,
    "corpus_bpe_vocab_curve": ORACLE_BPE_VOCAB_CURVE,
}
