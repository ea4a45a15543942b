"""Corpus-quality operators for training-data pipelines (beyond the
reference -- SURVEY build mandate: text quality / repetition analysis,
benchmark decontamination, relevance scoring).

Every operator here is a pure native-Catalyst plan (zero Python UDFs).
The anchor trio:

* ``repetition_stats``   -- Gopher-style repetition signals (Rae et al.
  2021, "Scaling Language Models", table A1): distinct-token ratio and
  top-bigram fraction, computed entirely array-side per row (map-only,
  ZERO shuffles -- the 100 TB shape: a straight scan).
* ``decontaminate``      -- benchmark n-gram-overlap decontamination
  (public recipe from GPT-3 / PaLM appendix: flag training docs sharing
  word n-grams with an eval set).  The benchmark gram set is tiny by
  construction, so the plan is explode -> broadcast left join -> one
  keyed agg: the corpus side shuffles ONCE on doc_id with map-side
  combine, and never all-pairs.  ``bloom_decontaminate`` is its
  fixed-memory-budget variant (m-bit membership, deterministic FPs);
  ``dsir_weights`` the importance-resampling selection score over the
  same hashed-gram machinery.
* ``bm25``               -- Okapi BM25 scoring against a fixed term
  list.  Per-term tf is computed array-side; corpus stats (N, avgdl,
  df_t) come from ONE single-row aggregate broadcast back via
  crossJoin, so the whole plan is scan + 1-row agg + map -- no
  per-term explode, no (doc x term) shuffle.

Plus the distribution reports (``unigram_logprob``, ``source_kl``,
``vocab_overlap``, ``zipf_fit``, ``boilerplate_stats``) and the
composite ``gopher_filter`` gate.

Every operator has an exact DuckDB-SQL mirror in ``workloads.py`` for
the correctness oracle; expressions are written in the same operation
order on both sides so doubles agree bit-for-bit before rounding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions.plan import materialize, select_exploded


def _det_sum(c: Column, scale: float = 1e9) -> Column:
    """Order-independent double sum: quantize each term to 1/scale and
    sum exact 64-bit integers (associative AND commutative, so the
    task-completion-order float-merge pathology documented in SCALE.md
    cannot flip a round(., 4) boundary), then unscale.  1e-9 quanta on
    O(1..30)-magnitude log terms keep >= 5 guard digits below the
    4-decimal output rounding; 1e6 terms of |scaled| <= 3e10 stay far
    inside int64.  The DuckDB oracles mirror the same expression."""
    return F.sum(F.round(c * scale).cast("long")) / F.lit(scale)


def _bigrams(toks: Column, n_tokens: Column) -> Column:
    """Adjacent word pairs, [] for docs with <2 tokens (array-side)."""
    return F.when(
        n_tokens >= 2,
        F.zip_with(
            F.slice(toks, 1, n_tokens - 1),
            F.slice(toks, 2, n_tokens - 1),
            lambda a, b: F.concat_ws(" ", a, b)),
    ).otherwise(F.array().cast("array<string>"))


def repetition_stats(docs: DataFrame, text_col: str = "text",
                     min_distinct_ratio: float = 0.5,
                     max_top_bigram_frac: float = 0.18) -> DataFrame:
    """Per-document repetition/quality signals, Gopher-rule style.

    Output: (doc_id, n_tokens, distinct_ratio, top_bigram_frac,
    repetitive).  ``repetitive`` fires when the doc is dominated by
    few distinct tokens or by one repeated bigram -- the two cheapest
    high-precision repetition filters from the Gopher pipeline.

    Scale shape: everything is a higher-order function over the token
    array of a single row -- the plan is one narrow projection, no
    exchange at any size.  Per-row cost is O(distinct_bigrams *
    n_bigrams), bounded by document length, not corpus size.
    """
    d = docs.select("doc_id", T.tokens(text_col).alias("toks"))
    d = d.withColumn("n_tokens", F.size("toks"))
    d = d.withColumn("bigrams", _bigrams(F.col("toks"), F.col("n_tokens")))
    top_cnt = F.array_max(F.transform(
        F.array_distinct("bigrams"),
        lambda g: F.size(F.filter(F.col("bigrams"), lambda x: x == g))))
    d = d.select(
        "doc_id", "n_tokens",
        F.round(
            F.when(F.col("n_tokens") > 0,
                   F.size(F.array_distinct("toks")).cast("double")
                   / F.col("n_tokens")).otherwise(F.lit(0.0)),
            6).alias("distinct_ratio"),
        F.round(
            F.when(F.col("n_tokens") >= 2,
                   top_cnt.cast("double") / (F.col("n_tokens") - 1))
            .otherwise(F.lit(0.0)),
            6).alias("top_bigram_frac"),
    )
    return d.withColumn(
        "repetitive",
        ((F.col("distinct_ratio") < F.lit(min_distinct_ratio))
         | (F.col("top_bigram_frac") > F.lit(max_top_bigram_frac)))
        .cast("int"))


def gopher_filter(docs: DataFrame, text_col: str = "text",
                  min_tokens: int = 50, max_tokens: int = 100_000,
                  min_mean_token_len: float = 3.0,
                  max_mean_token_len: float = 10.0,
                  min_alpha_ratio: float = 0.8,
                  min_stop_hits: int = 2,
                  min_distinct_ratio: float = 0.5,
                  max_top_bigram_frac: float = 0.18) -> DataFrame:
    """Composite Gopher quality gate (Rae et al. 2021, table A1): the
    whole rule chain a production corpus filter actually runs, as ONE
    boolean column plus the first failing rule for audit.

    Rules, applied in order (``fail_reason`` names the first to fire):
      1. ``n_tokens``        -- word count within [min_tokens, max_tokens]
      2. ``mean_token_len``  -- mean word length within [3, 10]
      3. ``alpha_ratio``     -- >=80% of words contain a letter
      4. ``stopwords``       -- at least 2 common-stopword hits
      5. ``distinct_ratio``  -- distinct-token ratio >= 0.5
      6. ``top_bigram``      -- top-bigram fraction <= 0.18

    Output: (doc_id, n_tokens, mean_token_len, alpha_ratio, stop_hits,
    distinct_ratio, top_bigram_frac, keep, fail_reason).  Ratios are
    rounded to 6 dp BEFORE threshold comparison so the keep decision is
    reproducible across engines (same convention as ``temperature_mix``).

    Scale shape: like ``repetition_stats`` this is array-side HOFs over
    each row's token list -- a map-only projection with ZERO exchanges
    at any corpus size; the 100 TB plan is a straight scan.
    """
    d = docs.select("doc_id", T.tokens(text_col).alias("toks"))
    d = d.withColumn("n_tokens", F.size("toks"))
    d = d.withColumn("bigrams", _bigrams(F.col("toks"), F.col("n_tokens")))
    top_cnt = F.array_max(F.transform(
        F.array_distinct("bigrams"),
        lambda g: F.size(F.filter(F.col("bigrams"), lambda x: x == g))))
    stop_list = F.array(*[F.lit(w) for w in T.STOPWORDS["en"]])
    d = d.select(
        "doc_id", "n_tokens",
        F.round(
            F.when(F.col("n_tokens") > 0,
                   F.aggregate("toks", F.lit(0),
                               lambda acc, t: acc + F.length(t))
                   .cast("double") / F.col("n_tokens"))
            .otherwise(F.lit(0.0)), 6).alias("mean_token_len"),
        F.round(
            F.when(F.col("n_tokens") > 0,
                   F.size(F.filter("toks",
                                   lambda t: t.rlike("[a-z]")))
                   .cast("double") / F.col("n_tokens"))
            .otherwise(F.lit(0.0)), 6).alias("alpha_ratio"),
        F.size(F.filter("toks",
                        lambda t: F.array_contains(stop_list, t)))
        .alias("stop_hits"),
        F.round(
            F.when(F.col("n_tokens") > 0,
                   F.size(F.array_distinct("toks")).cast("double")
                   / F.col("n_tokens")).otherwise(F.lit(0.0)),
            6).alias("distinct_ratio"),
        F.round(
            F.when(F.col("n_tokens") >= 2,
                   top_cnt.cast("double") / (F.col("n_tokens") - 1))
            .otherwise(F.lit(0.0)), 6).alias("top_bigram_frac"),
    )
    reason = (
        F.when((F.col("n_tokens") < min_tokens)
               | (F.col("n_tokens") > max_tokens), F.lit("n_tokens"))
        .when((F.col("mean_token_len") < min_mean_token_len)
              | (F.col("mean_token_len") > max_mean_token_len),
              F.lit("mean_token_len"))
        .when(F.col("alpha_ratio") < min_alpha_ratio, F.lit("alpha_ratio"))
        .when(F.col("stop_hits") < min_stop_hits, F.lit("stopwords"))
        .when(F.col("distinct_ratio") < min_distinct_ratio,
              F.lit("distinct_ratio"))
        .when(F.col("top_bigram_frac") > max_top_bigram_frac,
              F.lit("top_bigram")))
    return d.withColumn("fail_reason", reason).withColumn(
        "keep", F.col("fail_reason").isNull().cast("int"))


def decontaminate(docs: DataFrame, text_col: str = "text", n: int = 5,
                  bench_every: int = 50,
                  threshold: float = 0.5,
                  bench_docs: DataFrame | None = None) -> DataFrame:
    """Benchmark n-gram-overlap decontamination.

    Docs with ``doc_id % bench_every == 0`` stand in for the eval
    benchmark; every other doc is scored by the fraction of its
    DISTINCT word ``n``-grams that also occur anywhere in the benchmark
    set, and flagged ``contaminated`` at ``threshold``.

    Output: (doc_id, n_grams, n_hit, hit_frac, contaminated) for every
    corpus doc with at least one n-gram.

    Pass ``bench_docs`` to supply the benchmark explicitly — then EVERY
    row of ``docs`` is scored against it (the streaming/ingest shape:
    bench grams built once from a static table, each arriving batch
    scored in full); without it the ``doc_id % bench_every`` split
    applies as above.

    Scale shape: per-doc grams are deduped ARRAY-SIDE (map-only) before
    the explode, so the exploded edge carries at most one row per
    (doc, distinct gram); the benchmark gram set is small by
    construction and broadcast; the only shuffle is the final
    combiner-friendly agg keyed by doc_id.  Nothing all-pairs.
    """
    # Filter FIRST on cheap predicates (token count, doc_id side split),
    # THEN build grams: filtering on size(grams) after the projection
    # made Catalyst inline the whole transform expression into the
    # Filter as well as the Generate — the gram array was built twice
    # per row (~3x slower at sf0.1).  With >= n tokens the gram array is
    # nonempty by construction, so the post-filter is redundant; the
    # doc_id split below the gram-gen means each side only builds grams
    # for its own rows (one corpus pass total, not two).
    #
    # No CASE WHEN guard (a conditional around the transform costs ~2x:
    # it defeats codegen's subexpression reuse); instead the sequence end
    # is clamped with greatest(size-n, 0), so rows with < n tokens that
    # codegen evaluates speculatively ahead of the same-stage filter
    # yield one harmless short gram (slice clamps the length) instead of
    # a descending sequence that breaks slice() — the filter then drops
    # them regardless.
    #
    # Grams are collapsed to 64-bit xxhash64 values at build time: the
    # explode edge, the doc_id-keyed shuffle, and the broadcast benchmark
    # set then carry (doc_id, long) instead of ~n-word strings — several-
    # fold fewer shuffle/broadcast bytes at identical semantics.  Only
    # gram COUNTS reach the output, so the SQL oracle needs no hash
    # mirroring; a collision (P ≈ grams²/2⁶⁴) would perturb one count.
    def _toks(side: DataFrame) -> DataFrame:
        return (side.select("doc_id", T.tokens(text_col).alias("toks"))
                .where(F.size("toks") >= n))

    def _grams(side: DataFrame) -> DataFrame:
        return side.select(
            "doc_id",
            F.array_distinct(F.transform(
                F.sequence(F.lit(0), F.greatest(F.size("toks") - n, F.lit(0))),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice("toks", i + 1, n))),
            )).alias("grams"))

    toks = _toks(docs)
    if bench_docs is None:
        bench_toks = toks.where(F.col("doc_id") % bench_every == 0)
        corp_toks = toks.where(F.col("doc_id") % bench_every != 0)
    else:
        bench_toks = _toks(bench_docs)
        corp_toks = toks

    bench = (select_exploded(_grams(bench_toks),
                             F.col("grams"), "gram").select("gram").distinct()
             .withColumn("hit", F.lit(1)))
    corp = select_exploded(_grams(corp_toks),
                           F.col("grams"), "gram", "doc_id")
    scored = (corp.join(F.broadcast(bench), "gram", "left")
              .groupBy("doc_id")
              .agg(F.count(F.lit(1)).alias("n_grams"),
                   F.count("hit").alias("n_hit")))
    scored = scored.withColumn(
        "hit_frac",
        F.round(F.col("n_hit").cast("double") / F.col("n_grams"), 6))
    return scored.withColumn(
        "contaminated",
        (F.col("hit_frac") >= F.lit(threshold)).cast("int"))


def unigram_logprob(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus MLE
    unigram model — the cheap end of the perplexity-filtering family
    (CCNet / Gopher score documents with a language model and drop the
    tails; the unigram model is its zero-training analog and the
    standard first-pass corpus-quality score).

    score(d) = -(1/|d|) * sum_{t in d} ln(count(t) / total_tokens)

    Output: (doc_id, n_tokens, avg_nll) for docs with >= 1 token.  Low
    avg_nll = doc made of corpus-frequent tokens; high = rare-token
    tail (OCR noise, boilerplate, wrong-language residue).

    Scale shape: tokenization is map-only; the vocabulary reduces in
    ONE token-keyed aggregate with map-side combine (output rows =
    |vocab|, not corpus size); the token->logp lookup is a token-keyed
    shuffle join (vocab is corpus-dependent, so NOT assumed
    broadcastable at 100 TB — Spark/AQE may still pick broadcast when
    the measured vocab is small); the final per-doc score is one
    doc_id-keyed agg.  Nothing all-pairs, every edge keyed.

    Shuffle discipline (r12 optimization round): every post-tokenize
    edge carries ``xxhash64(token)`` longs, never token strings — the
    vocab aggregate, the lookup join and the scoring shuffle all move
    8-byte keys (measured ×0.74 vs the string-keyed spelling at sf0.1,
    same-JVM interleaved medians; a 64-bit collision would merge two
    vocab rows, P ≈ |vocab|²/2⁶⁴).

    The plan is lazy: the tokenize+explode pass runs under three
    subtrees (vocab build, 1-row total, scoring join).  Pinning the
    hashed occurrence and count tables with :func:`materialize` would
    run it once, but measured at sf0.1 the pinning job costs MORE than
    the two saved sub-second re-derivations (0.78 s lazy vs 1.02 s
    pinned, same-JVM medians)."""
    toks = (docs.select("doc_id", T.tokens(text_col).alias("toks"))
            .where(F.size("toks") >= 1))
    tok = select_exploded(toks, F.col("toks"), "token", "doc_id")
    occ = tok.select("doc_id", F.xxhash64("token").alias("_tok"))
    vocab = occ.groupBy("_tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    vocab = vocab.crossJoin(F.broadcast(total)).select(
        "_tok",
        (F.log(F.col("cnt").cast("double")) -
         F.log(F.col("total").cast("double"))).alias("logp"))
    return (occ.join(vocab, "_tok")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.round(-F.avg("logp"), 4).alias("avg_nll")))


def source_kl(docs: DataFrame, text_col: str = "text",
              source_col: str = "source") -> DataFrame:
    """Per-source KL divergence from the corpus unigram distribution —
    the mixture-drift report a data-curation pipeline runs to see which
    sources are lexically far from the blend (candidates for up/down-
    weighting, cf. the domain-mixture tuning in Gopher / DoReMi).

    KL(P_s || P) = sum_t P_s(t) * ln(P_s(t) / P(t)), natural log,
    over the source's own support (P(t) > 0 wherever P_s(t) > 0 since
    the corpus distribution includes the source).

    Output: (source, n_tokens, n_vocab, kl) — one row per source.

    Scale shape: one (source, token)-keyed aggregate collapses the
    corpus to |sources| x |vocab| count rows; corpus totals derive from
    THAT aggregate (no second corpus scan); the join back is keyed on
    token; the final agg is keyed on source.  All post-tokenization
    data is vocabulary-sized, not corpus-sized.
    """
    toks = docs.select(F.col(source_col).alias("source"),
                       T.tokens(text_col).alias("toks"))
    tok = select_exploded(toks, F.col("toks"), "token", "source")
    sc = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("cnt"))
    # vocabulary-sized: materialize once so the three consumers below
    # (corpus counts, per-source totals, join probe) don't re-scan the
    # corpus
    sc = materialize(sc)
    corpus = sc.groupBy("token").agg(F.sum("cnt").alias("ccnt"))
    stot = sc.groupBy("source").agg(F.sum("cnt").alias("stot"))
    ctot = corpus.agg(F.sum("ccnt").alias("ctot"))
    j = (sc.join(corpus, "token")
         .join(F.broadcast(stot), "source")
         .crossJoin(F.broadcast(ctot)))
    ps = F.col("cnt").cast("double") / F.col("stot")
    pc = F.col("ccnt").cast("double") / F.col("ctot")
    return (j.groupBy("source")
            .agg(F.max("stot").alias("n_tokens"),
                 F.count(F.lit(1)).alias("n_vocab"),
                 F.round(F.sum(ps * (F.log(ps) - F.log(pc))), 4).alias("kl")))


def vocab_overlap(docs: DataFrame, text_col: str = "text",
                  source_col: str = "source") -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — the redundancy
    matrix of a multi-source corpus (two crawls of the same domain show
    up as a near-1 cell; a wrongly-labeled source as an outlier row).

    J(A,B) = |vocab_A ∩ vocab_B| / |vocab_A ∪ vocab_B|

    Output: (src_a, src_b, n_common, jaccard), one row per unordered
    source pair (src_a < src_b) that shares at least one token; fully
    disjoint-vocab pairs (J = 0) emit NO row (inner-join semantics —
    the DuckDB oracle and tests encode the same absence).

    Scale shape: the corpus collapses to DISTINCT (source, token) in
    one keyed aggregate (vocab-sized); the pair intersection is a
    token-keyed self-join of that small set (each token fans out at
    most sources² — bounded by the source count, not the corpus); per-
    source vocab sizes are a tiny broadcast.  Never corpus × corpus.

    The plan is lazy (r12 optimization round): the distinct (source,
    token) vocab table feeds THREE subtrees (sizes + both self-join
    legs), so the corpus is tokenized three times per action.  Pinning
    the vocab-bounded table with :func:`materialize` would tokenize
    once, but measured at sf0.1 the pinning job costs MORE than the
    two saved sub-second re-derivations (0.59 s lazy vs 0.83 s pinned,
    same-JVM interleaved medians).
    """
    toks = docs.select(F.col(source_col).alias("source"),
                       T.tokens(text_col).alias("toks"))
    sv = (select_exploded(toks, F.col("toks"), "token", "source")
          .distinct())
    sizes = sv.groupBy("source").agg(F.count(F.lit(1)).alias("n_vocab"))
    a = sv.select(F.col("source").alias("src_a"), "token")
    b = sv.select(F.col("source").alias("src_b"), "token")
    inter = (a.join(b, "token")
             .where(F.col("src_a") < F.col("src_b"))
             .groupBy("src_a", "src_b")
             .agg(F.count(F.lit(1)).alias("n_common")))
    sa = sizes.select(F.col("source").alias("src_a"),
                      F.col("n_vocab").alias("_na"))
    sb = sizes.select(F.col("source").alias("src_b"),
                      F.col("n_vocab").alias("_nb"))
    return (inter.join(F.broadcast(sa), "src_a")
            .join(F.broadcast(sb), "src_b")
            .select("src_a", "src_b", "n_common",
                    F.round(F.col("n_common").cast("double")
                            / (F.col("_na") + F.col("_nb")
                               - F.col("n_common")), 6).alias("jaccard")))


def zipf_fit(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Zipf-law fit of the corpus token-frequency distribution: OLS of
    ln(freq) on ln(rank) — the one-row corpus-health diagnostic (natural
    text sits near slope −1; generated/templated corpora run shallow,
    token-soup runs steep).

    Output: one row (n_terms, slope, intercept, r2), 4 dp.

    Scale shape: vocab in one token-keyed agg; the (cnt desc, token)
    rank is an UNPARTITIONED window — a deliberate single-task sort,
    acceptable because the input is vocab-sized (millions of rows, not
    corpus-sized) for a one-row diagnostic; the regression reduces in a
    single combiner-friendly aggregate via
    ``regr_slope``/``regr_intercept``/``regr_r2``.
    """
    toks = docs.select(T.tokens(text_col).alias("toks"))
    vocab = (select_exploded(toks, F.col("toks"), "token")
             .groupBy("token").agg(F.count(F.lit(1)).alias("cnt")))
    from pyspark.sql import Window
    w = Window.orderBy(F.col("cnt").desc(), F.col("token"))
    ranked = vocab.withColumn("rank", F.row_number().over(w))
    xy = ranked.select(F.log(F.col("cnt").cast("double")).alias("y"),
                       F.log(F.col("rank").cast("double")).alias("x"))
    return xy.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(F.expr("regr_slope(y, x)"), 4).alias("slope"),
        F.round(F.expr("regr_intercept(y, x)"), 4).alias("intercept"),
        F.round(F.expr("regr_r2(y, x)"), 4).alias("r2"))


def bm25(docs: DataFrame, terms: tuple[str, ...],
         text_col: str = "text",
         k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Okapi BM25 score of each document against a fixed term list.

    idf_t = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))          (standard)
    score = sum_t idf_t * tf_t*(k1+1) / (tf_t + k1*(1 - b + b*dl/avgdl))

    Output: (doc_id, dl, n_terms_matched, bm25) for docs matching at
    least one term.

    Scale shape: tf_t per term is an array-side count (map-only); the
    corpus statistics (N, avgdl, one df per term) reduce to a SINGLE
    row in one combiner-friendly aggregate, broadcast back with a
    crossJoin.  Total cost: one scan + one 1-row agg + one map pass --
    independent of the number of terms shuffling anything.
    """
    def _tf(term: str) -> Column:
        # real function scope: a default-arg lambda would read as a
        # two-arg (element, index) HOF lambda to Spark
        return F.size(F.filter(F.col("toks"), lambda x: x == F.lit(term)))

    d = docs.select("doc_id", T.tokens(text_col).alias("toks"))
    d = d.withColumn("dl", F.size("toks"))
    for j, t in enumerate(terms):
        d = d.withColumn(f"tf{j}", _tf(t))
    stats = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[F.sum((F.col(f"tf{j}") > 0).cast("int")).alias(f"df{j}")
          for j in range(len(terms))])
    j0 = d.crossJoin(F.broadcast(stats))
    score = None
    for j in range(len(terms)):
        tf = F.col(f"tf{j}").cast("double")
        df = F.col(f"df{j}").cast("double")
        idf = F.log(F.lit(1.0)
                    + (F.col("n_docs") - df + F.lit(0.5)) / (df + F.lit(0.5)))
        part = idf * (tf * F.lit(k1 + 1.0)) / (
            tf + F.lit(k1) * (F.lit(1.0) - F.lit(b)
                              + F.lit(b) * F.col("dl") / F.col("avgdl")))
        score = part if score is None else score + part
    matched = None
    for j in range(len(terms)):
        m = (F.col(f"tf{j}") > 0).cast("int")
        matched = m if matched is None else matched + m
    return (j0.withColumn("n_terms_matched", matched)
            .where(F.col("n_terms_matched") > 0)
            .select("doc_id", "dl", "n_terms_matched",
                    F.round(score, 4).alias("bm25")))


def bm25_topk(docs: DataFrame, queries: DataFrame, k: int = 10,
              text_col: str = "text",
              q_id_col: str = "q_id", terms_col: str = "terms",
              k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Multi-query BM25 retrieval: the top-k documents per query — the
    inverted-index search plan (posting-list join), complementing
    :func:`bm25` (fixed-term scoring column) and ``tfidf_topk``
    (per-doc keyword extraction).

    ``queries`` is (q_id, terms ARRAY<STRING>); scoring uses the same
    Okapi formula as :func:`bm25`, summed over the query's distinct
    terms; ranking and output round to 4 dp (cross-engine fp-sum-order
    discipline, same as ``unigram_logprob``), ties break on doc_id.

    Output: (q_id, doc_id, n_terms_matched, bm25, rank <= k).

    Scale shape: the corpus collapses to the (doc, term, tf) posting
    table in ONE shuffle; a broadcast semi-join against the query term
    set drops every posting list a query never touches BEFORE df/stats
    work; df per surviving term derives from the filtered postings
    (every doc containing t is in t's posting list); corpus N/avgdl is
    a 1-row aggregate.  The scoring join is term-keyed, the final agg
    (q_id, doc)-keyed, top-k a WindowGroupLimit — never corpus × queries.

    Materialization discipline (r12 optimization round): the lazy
    spelling re-derived the tokenize pass under FOUR independent plan
    subtrees (tf for scoring, tf again under dfreq, dl for the length
    join, dl again under the 1-row stats agg) — four corpus scans +
    two posting shuffles per action.  One eager :func:`materialize`
    of ``posts`` — the query-term-bounded posting slice,
    Σ_t df_t rows, tiny by the semi-join's construction — feeds both
    dfreq and scoring: three tokenize passes and ONE posting shuffle.
    The two remaining dl-side passes are map-only token counts; an
    A/B showed checkpointing the corpus-count dl table costs its
    materialization more than those passes save."""
    d = docs.select("doc_id", T.tokens(text_col).alias("toks"))
    dl = d.select("doc_id", F.size("toks").alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).cast("double").alias("n_docs"),
                   F.avg("dl").alias("avgdl"))
    tok = select_exploded(d, F.col("toks"), "term", "doc_id")
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    qt = (select_exploded(
        queries.select(F.col(q_id_col).alias("q_id"), terms_col),
        F.col(terms_col), "term", "q_id").distinct())
    qterms = qt.select("term").distinct()
    posts = materialize(tf.join(F.broadcast(qterms), "term", "leftsemi"))
    dfreq = posts.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df"))
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    tfv = F.col("tf").cast("double")
    part = idf * (tfv * F.lit(k1 + 1.0)) / (
        tfv + F.lit(k1) * (F.lit(1.0) - F.lit(b)
                           + F.lit(b) * F.col("dl") / F.col("avgdl")))
    scored = (posts.join(F.broadcast(qt), "term")
              .join(dfreq, "term")
              .join(dl, "doc_id")
              .crossJoin(F.broadcast(stats))
              .select("q_id", "doc_id", part.alias("part")))
    agg = (scored.groupBy("q_id", "doc_id")
           .agg(F.count(F.lit(1)).cast("int").alias("n_terms_matched"),
                F.round(F.sum("part"), 4).alias("bm25")))
    w = Window.partitionBy("q_id").orderBy(F.col("bm25").desc(),
                                           F.col("doc_id").asc())
    return (agg.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "doc_id", "n_terms_matched", "bm25", "rank"))


def boilerplate_stats(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      min_docs: int = 5) -> DataFrame:
    """Corpus-level boilerplate detection (the C4/RefinedWeb recipe
    lifted from lines to word n-grams): an ``n``-gram occurring in >=
    ``min_docs`` DISTINCT documents is boilerplate (nav text, license
    headers, templated snippets); each document reports how much of it
    is boilerplate → (doc_id, n_grams, n_boiler, boiler_frac).
    Filtering ``boiler_frac`` is the cleanup step; the gram table
    itself is the site-template census.

    Scale shape: grams are collapsed to 64-bit xxhash64 at build time
    (the shuffle carries longs, never n-word strings — the measured
    decontaminate/edit_near_dups win); document frequency is one
    distinct-(doc, gram) shuffle + count; the gram↔boilerplate match is
    a long-keyed equi-join (the boilerplate set is the high-DF tail,
    bounded above by total_grams/min_docs — shuffled, not broadcast, by
    default).  Only COUNTS reach the output, so the SQL oracle mirrors
    raw gram strings; a 64-bit collision (P ≈ grams²/2⁶⁴) would perturb
    one count.
    """
    from .dedup import shingle_table
    sh = (shingle_table(docs, text_col, id_col, n, dedupe=False)
          .select(id_col, F.xxhash64("shingle").alias("_g")))
    docfreq = (sh.dropDuplicates([id_col, "_g"])
               .groupBy("_g").agg(F.count("*").alias("_nd")))
    boiler = (docfreq.filter(F.col("_nd") >= min_docs)
              .select("_g", F.lit(1).alias("_b")))
    return (sh.join(boiler, on="_g", how="left")
            .groupBy(id_col)
            .agg(F.count("*").alias("n_grams"),
                 F.count("_b").alias("n_boiler"))
            .withColumn("boiler_frac",
                        F.round(F.col("n_boiler") / F.col("n_grams"), 6)))


def _dsir_grams(docs: DataFrame, target: Column, text_col: str,
                id_col: str, n_buckets: int,
                bucket_hash: str) -> DataFrame:
    """Shared gram→bucket projection: (doc_id, is_t, bucket), one row
    per unigram/bigram occurrence (map-only)."""
    toks = (docs.select(F.col(id_col).alias("doc_id"),
                        target.cast("int").alias("is_t"),
                        T.tokens(text_col).alias("toks"))
            .where(F.size("toks") >= 1))
    grams = toks.select(
        "doc_id", "is_t",
        F.concat(F.col("toks"),
                 _bigrams(F.col("toks"), F.size("toks"))).alias("grams"))
    g = select_exploded(grams, F.col("grams"), "gram", "doc_id", "is_t")
    if bucket_hash == "xxhash64":
        b = F.pmod(F.xxhash64("gram"), F.lit(n_buckets))
    else:
        b = F.pmod(F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10)
                    .cast("long"), F.lit(n_buckets))
    return g.select("doc_id", "is_t", b.alias("bucket"))


def dsir_fit(docs: DataFrame, target: Column,
             text_col: str = "text", id_col: str = "doc_id",
             n_buckets: int = 1024, alpha: float = 1.0,
             bucket_hash: str = "md5") -> DataFrame:
    """Fit the DSIR bucket→log-ratio table (<= ``n_buckets`` rows) —
    the model half of :func:`dsir_weights`.  The production pattern at
    100 TB: fit ONCE on the pool that defines the distributions (or a
    sample), ``.persist()``/write the tiny ratio table, then score any
    number of corpora/batches with ``dsir_weights(..., ratio=...)`` —
    each scoring pass is then a SINGLE corpus scan (the one-call form
    scans twice: once for the histogram, once to score).

    The table has EXACTLY ``n_buckets`` rows: buckets unseen in the
    fit pool are framed in with ct=0, cr=0, so their log-ratio is the
    add-alpha smoothed floor ln(tr+aB)-ln(tt+aB).  Without the frame,
    scoring an out-of-fit-distribution corpus against a pre-fitted
    ratio would silently DROP its novel grams from both n_grams and
    the weight sum — biasing scores exactly for the docs DSIR exists
    to down-weight."""
    g = _dsir_grams(docs, target, text_col, id_col, n_buckets, bucket_hash)
    hist = (g.groupBy("bucket")
            .agg(F.sum("is_t").alias("ct"),
                 F.count(F.lit(1)).alias("cr")))
    return _dsir_ratio_from_hist(docs.sparkSession, hist, n_buckets, alpha)


def _dsir_ratio_from_hist(spark, hist: DataFrame, n_buckets: int,
                          alpha: float) -> DataFrame:
    """(bucket, ct, cr) histogram → the framed add-alpha log-ratio
    table (the tail of :func:`dsir_fit`, shared with the single-scan
    one-call path in :func:`dsir_weights`)."""
    tot = hist.agg(F.sum("ct").alias("tt"), F.sum("cr").alias("tr"))
    frame = spark.range(int(n_buckets)).select(F.col("id").alias("bucket"))
    hist = (frame.join(hist, "bucket", "left")
            .select("bucket",
                    F.coalesce("ct", F.lit(0)).alias("ct"),
                    F.coalesce("cr", F.lit(0)).alias("cr")))
    a = float(alpha)
    aB = a * float(n_buckets)
    return (hist.crossJoin(F.broadcast(tot))
            .select("bucket",
                    ((F.log(F.col("ct").cast("double") + a)
                      - F.log(F.col("tt").cast("double") + aB))
                     - (F.log(F.col("cr").cast("double") + a)
                        - F.log(F.col("tr").cast("double") + aB)))
                    .alias("lr")))


def dsir_weights(docs: DataFrame, target: Column,
                 text_col: str = "text", id_col: str = "doc_id",
                 n_buckets: int = 1024, alpha: float = 1.0,
                 bucket_hash: str = "md5",
                 ratio: DataFrame | None = None) -> DataFrame:
    """DSIR hashed n-gram importance weights (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    every document by how target-domain-like its hashed unigram+bigram
    profile is, so a curation pipeline can resample the raw pool toward
    a target distribution (the published recipe behind domain-matched
    pretraining mixes).

    ``target`` is a boolean Column marking the target-domain rows
    (e.g. ``F.col("lang") == "en"``); the RAW distribution is the whole
    pool, per the paper.  Features are unigrams and adjacent-word
    bigrams hashed into ``n_buckets`` buckets; with add-``alpha``
    smoothed bucket distributions p_t / p_r, the importance weight is

        log w(d) = sum_{g in d} [ ln p_t(b(g)) - ln p_r(b(g)) ]

    Output: (doc_id, n_grams, dsir_logw) for docs with >= 1 token.
    Resampling = rank / Gumbel-top-k on ``dsir_logw`` downstream
    (``quality_curriculum`` / ``sample_to_budget`` compose with it).

    Scale shape (the reason DSIR is THE scalable selection method):
    gram build is map-only array work; the bucket histogram reduces in
    ONE agg over a key space bounded by ``n_buckets`` (map-side
    combine; output rows = buckets, never corpus-sized); the
    bucket->log-ratio table is <= ``n_buckets`` rows — broadcast BY
    CONSTRUCTION, not by luck; per-doc scoring is one doc_id-keyed agg
    with map-side combine.  Nothing all-pairs, no corpus-sized state.

    ``bucket_hash="md5"`` is the md5-prefix trick shared with the
    KMV/CMS sketches: first 15 hex digits -> 60-bit int -> mod
    n_buckets, bit-identical in any engine, so the registry entry gets
    a full cross-engine oracle.  ``bucket_hash="xxhash64"`` is the
    production fast path (native 64-bit hash, no hex round-trip) —
    same statistics, different bucket assignment, so only the md5 mode
    is oracle-comparable.

    Pass a pre-fitted ``ratio`` table (:func:`dsir_fit`) to score with
    ONE corpus scan; the one-call form derives it inline (two scans —
    fine for a one-shot report, wasteful for repeated scoring).  The
    fitted table frames in ALL ``n_buckets`` buckets (unseen buckets
    carry the smoothed floor ratio), so the inner join below is
    lossless even when the score corpus is out-of-fit-distribution.
    A pre-fitted ``ratio`` must use the same ``bucket_hash`` mode it
    is scored with — both key spaces are 0..n_buckets-1, so a
    mismatch joins cleanly but pairs grams with the wrong buckets'
    ratios; :func:`dsir_sample` forwards its ``bucket_hash`` for this
    reason.

    The per-doc sum uses :func:`_det_sum` (scaled-int64 merge) so
    ``dsir_logw`` is bit-identical across run orders/engines — the
    round(., 4) boundary cannot flip with task completion order.

    One-call plan shape (r12 optimization round): the gram build
    (tokenize + per-gram md5) is the pass's dominant cost, and the
    naive one-call form ran it TWICE — once under the histogram's
    broadcast subtree, once to score.  Instead the grams are
    pre-aggregated to per-(doc, bucket) COUNTS and that skinny
    integer table is materialized once (:func:`materialize` — blocks
    free with the plan); the histogram is then an integer re-aggregate
    of it and the per-doc score weights each bucket's quantized
    log-ratio by its count — both integer-exactly equal to the per-occurrence
    spelling (ct = Σ is_t·cnt, score = Σ cnt·round(lr·1e9)), so the
    output is bit-identical while tokenization runs ONCE.  Rows
    materialized ≤ min(gram occurrences, n_docs·n_buckets) at 16
    bytes — the same executor-local-disk class as ``jaccard_pairs``'
    posting checkpoint; pre-fitted ``ratio`` callers skip the
    checkpoint (their plan is single-scan already).
    """
    g = _dsir_grams(docs, target, text_col, id_col, n_buckets, bucket_hash)
    g2 = g.groupBy("doc_id", "is_t", "bucket").agg(
        F.count(F.lit(1)).alias("_cnt"))
    if ratio is None:
        g2 = materialize(g2)
        hist = (g2.groupBy("bucket")
                .agg(F.sum(F.col("is_t") * F.col("_cnt")).alias("ct"),
                     F.sum("_cnt").alias("cr")))
        ratio = _dsir_ratio_from_hist(docs.sparkSession, hist, n_buckets,
                                      alpha)
    return (g2.join(F.broadcast(ratio), "bucket")
            .groupBy("doc_id")
            .agg(F.sum("_cnt").alias("n_grams"),
                 F.round(F.sum(F.col("_cnt")
                               * F.round(F.col("lr") * 1e9).cast("long"))
                         / F.lit(1e9), 4).alias("dsir_logw")))


def bloom_decontaminate(docs: DataFrame, text_col: str = "text",
                        n: int = 5, bench_every: int = 50,
                        m_bits: int = 1 << 18, k_hashes: int = 4,
                        threshold: float = 0.5) -> DataFrame:
    """Bloom-filter benchmark decontamination — the bounded-memory
    variant of :func:`decontaminate` for when the benchmark gram set
    is too large to ship raw (a full eval-suite union at 100 TB):
    membership state is ``m_bits`` BITS (positions set by any
    benchmark gram), a fixed budget independent of how the benchmark
    grows, at the price of a deterministic false-positive rate
    ≈ (set_bits/m)^k.  Same bench/corpus split convention as
    ``decontaminate`` (``doc_id % bench_every == 0`` is the bench).

    Output: (doc_id, n_grams, n_hit, hit_frac, contaminated) — same
    shape as ``decontaminate``; ``n_hit`` counts grams whose ALL
    ``k_hashes`` positions are set (true hits + deterministic FPs).

    Positions come from ONE md5 per gram: the 60-bit md5-prefix
    integer is mixed per probe ``j`` by the minhash family's
    rotate-xor bijection (``ops.dedup.minhash_mix_params``) and
    reduced mod ``m_bits`` — k× less hashing than an md5 per (j, gram)
    at identical guarantees, and plain arithmetic identical in any
    engine, so the FP set itself is oracle-reproducible bit-for-bit.

    Scale shape: the position table is ≤ ``m_bits`` rows of one long —
    broadcast BY A FIXED BUDGET, never benchmark-sized; the corpus
    side explodes each distinct gram k-fold, probes the broadcast set
    map-side, and reduces with two combiner-friendly keyed aggs
    ((doc, gram) then doc) — the first keyed by the gram STRING, the
    exact no-false-negative form (a 64-bit gram-hash key admits a
    collision false negative and diverges from the oracle).  Nothing
    benchmark×corpus ever shuffles.
    """
    toks = (docs.select("doc_id", T.tokens(text_col).alias("toks"))
            .where(F.size("toks") >= n))

    def _grams(side: DataFrame) -> DataFrame:
        # raw gram STRINGS (the bloom hash needs the gram text);
        # distinct array-side like decontaminate
        return side.select(
            "doc_id",
            F.array_distinct(F.transform(
                F.sequence(F.lit(0), F.greatest(F.size("toks") - n, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice("toks", i + 1, n)),
            )).alias("grams"))

    from .dedup import minhash_mix_params, MINHASH_BITS, _minhash_base
    mixes = minhash_mix_params(k_hashes)
    B = MINHASH_BITS

    def _positions(gram) -> Column:
        u = _minhash_base(gram)
        return F.array(*[
            F.pmod(
                (F.shiftleft(u.bitwiseAND(F.lit((1 << (B - rot)) - 1)), rot)
                 .bitwiseOR(F.shiftrightunsigned(u, B - rot)))
                .bitwiseXOR(F.lit(cst)),
                F.lit(m_bits))
            for _, rot, cst in mixes])

    bench_g = select_exploded(
        _grams(toks.where(F.col("doc_id") % bench_every == 0)),
        F.col("grams"), "gram")
    # the k-position arrays are COMPUTED (k md5s per gram): explode via
    # select_exploded or InferFiltersFromGenerate re-evaluates them
    # per row in a pushed-down filter (see functions/plan.py)
    bits = (select_exploded(bench_g, _positions(F.col("gram")), "p")
            .distinct().withColumn("hit", F.lit(1)))

    corp = select_exploded(
        _grams(toks.where(F.col("doc_id") % bench_every != 0)),
        F.col("grams"), "gram", "doc_id")
    # per-gram k probe positions, keyed by the GRAM STRING itself: a
    # 64-bit gram-hash key (the earlier design) admits a residual
    # false negative when two distinct grams of one doc collide and
    # only one is in the bench bloom — the merged 2k-probe group
    # fails any all-match test — and it diverges from the oracle's
    # group-by-gram.  The string key is exact (true bloom superset
    # guarantee, matches the SQL oracle bit-for-bit); the agg shuffle
    # carries n-token gram strings instead of longs — bounded by the
    # already-exploded probe rows, same order of bytes as the gram
    # explode that feeds it.
    probes = select_exploded(
        corp.select("doc_id", "gram",
                    _positions(F.col("gram")).alias("_ps")),
        F.col("_ps"), "p", "doc_id", "gram")
    # hit iff ALL k probe positions of the gram are set (a gram's
    # position array always has exactly k entries, duplicates kept by
    # the explode, so count == k_hashes ≡ the oracle's
    # count(bits.p) = BLOOM_K)
    per_gram = (probes.join(F.broadcast(bits), "p", "left")
                .groupBy("doc_id", "gram")
                .agg((F.count("hit") == F.lit(k_hashes))
                     .cast("int").alias("h")))
    out = (per_gram.groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("n_grams"),
                F.sum("h").alias("n_hit")))
    out = out.withColumn(
        "hit_frac",
        F.round(F.col("n_hit").cast("double") / F.col("n_grams"), 6))
    return out.withColumn(
        "contaminated",
        (F.col("hit_frac") >= F.lit(threshold)).cast("int"))


def dsir_sample(docs: DataFrame, target: Column, n_keep: int,
                text_col: str = "text", id_col: str = "doc_id",
                n_buckets: int = 1024, alpha: float = 1.0,
                bucket_hash: str = "md5", salt: str = "",
                ratio: DataFrame | None = None) -> DataFrame:
    """DSIR selection step — Gumbel-top-k importance RESAMPLING over
    :func:`dsir_weights` (Xie et al. 2023 §2: sample from
    p(d) ∝ exp(log w(d)) without replacement).  The Gumbel-max trick
    makes that exact with one pass: key(d) = log w(d) + Gumbel(d),
    take the ``n_keep`` largest keys.  The Gumbel is derived from the
    md5 hash of ``salt||doc_id`` (u in (0,1) → −ln(−ln u)) — pure row
    arithmetic, so the SAMPLE ITSELF is deterministic, append-stable,
    and engine-portable (the registry oracle reproduces the exact
    selected set, not just its size).

    Output: (doc_id, dsir_logw, key, rk) for the selected docs,
    rk 1..n_keep by descending key.

    Scale shape: everything up to the key is :func:`dsir_weights`'
    bounded plan + one map; the top-k is a global rank of 16-byte
    (key, id) rows.  The oracle-friendly form here is a single window
    (one exchange of corpus-count skinny rows); at 100 TB replace it
    with ``orderBy(key).limit(n_keep)`` (TakeOrderedAndProject:
    per-partition heaps, no global sort) or the partitioner's two-pass
    ranking — the key column is identical either way.
    """
    w = dsir_weights(docs, target, text_col=text_col, id_col=id_col,
                     n_buckets=n_buckets, alpha=alpha,
                     bucket_hash=bucket_hash, ratio=ratio)
    h = F.md5(F.concat(F.lit(salt), F.col("doc_id").cast("string")))
    u = ((F.conv(F.substring(h, 1, 15), 16, 10).cast("double") + 0.5)
         / F.lit(float(16 ** 15)))
    keyed = w.select(
        "doc_id", "dsir_logw",
        F.round(F.col("dsir_logw") - F.log(-F.log(u)), 4).alias("key"))
    win = Window.orderBy(F.col("key").desc(), F.col("doc_id").asc())
    return (keyed.withColumn("rk", F.row_number().over(win))
            .filter(F.col("rk") <= n_keep))


def bigram_logprob(docs: DataFrame, text_col: str = "text",
                   alpha: float = 1.0) -> DataFrame:
    """Per-document mean NLL under a corpus bigram model with additive
    unigram backoff — one rung up the perplexity-filter ladder from
    :func:`unigram_logprob` (CCNet scores with a 5-gram KenLM; the
    bigram model is its cheapest distributed analog and separates
    word-salad from fluent text where unigram NLL cannot: both score
    the same under a bag-of-words model).

        p(t | s) = (c(s,t) + alpha * p1(t)) / (c1(s) + alpha)
        score(d) = -(1 / (|d|-1)) * sum_i ln p(t_i | t_{i-1})

    Output: (doc_id, n_bigrams, avg_nll) for docs with >= 2 tokens.

    Scale shape: the bigram count table reduces in ONE keyed agg
    (rows = observed bigrams, not corpus size); the unigram table
    likewise; the scoring joins are bigram-/token-keyed shuffles
    (neither table assumed broadcastable at 100 TB — AQE may still
    broadcast when measured small); per-doc score is one doc-keyed
    agg.  Nothing all-pairs, no corpus-sized single-task state.
    Join keys are 64-bit xxhash64 of the gram/token (the dedup
    family's shuffle discipline: longs on the wire, never n-word
    strings — only counts reach the output, so the SQL oracle mirrors
    raw strings; a collision would perturb one count).

    The plan is lazy (r12 optimization round): it re-derives the
    tokenize+explode pass under SIX subtrees (the scoring edge table,
    bcnt, ucnt twice for the two conditional joins, the 1-row total,
    the bigram build) — ten doc-table scans per action.  Pinning the
    skinny hashed bigram edge table (doc_id + 3 longs per occurrence)
    and the vocab-bounded unigram table with :func:`materialize` would
    cut that to two tokenize passes, but measured at sf0.1 the two
    pinning jobs cost MORE than the saved re-derivations (1.54 s lazy
    vs 1.72 s pinned, same-JVM interleaved medians)."""
    toks = (docs.select("doc_id", T.tokens(text_col).alias("toks"))
            .where(F.size("toks") >= 2))
    big = toks.select(
        "doc_id",
        _bigrams(F.col("toks"), F.size("toks")).alias("bgs"))
    db = select_exploded(big, F.col("bgs"), "bg", "doc_id")
    # leading token of each bigram = the conditioning context s
    db = db.select("doc_id", F.xxhash64("bg").alias("_bg"),
                   F.xxhash64(F.substring_index("bg", " ", 1)).alias("_s"),
                   F.xxhash64(F.substring_index("bg", " ", -1)).alias("_t"))
    bcnt = db.groupBy("_bg").agg(F.count(F.lit(1)).alias("cb"))
    tok = select_exploded(toks, F.col("toks"), "token", "doc_id")
    ucnt = (tok.select(F.xxhash64("token").alias("_tok"))
            .groupBy("_tok").agg(F.count(F.lit(1)).alias("cu")))
    total = ucnt.agg(F.sum("cu").alias("tt"))
    a = float(alpha)
    lp = (F.log((F.col("cb").cast("double")
                 + F.lit(a) * F.col("cu_t").cast("double")
                 / F.col("tt").cast("double")))
          - F.log(F.col("cu_s").cast("double") + F.lit(a)))
    scored = (db.join(bcnt, "_bg")
              .join(ucnt.select(F.col("_tok").alias("_s"),
                                F.col("cu").alias("cu_s")), "_s")
              .join(ucnt.select(F.col("_tok").alias("_t"),
                                F.col("cu").alias("cu_t")), "_t")
              .crossJoin(F.broadcast(total)))
    # _det_sum: order-independent merge so the round(., 4) boundary
    # cannot flip with task completion order (same pathology class as
    # the pq_fit/kmeans_fit fix documented in SCALE.md)
    return (scored.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.round(-(_det_sum(lp) / F.count(F.lit(1))), 4)
                 .alias("avg_nll")))


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# Patterns live in the Java-regex ∩ RE2 portable subset (same contract
# as functions/text.bpe_token_count): character classes, bounded
# repetition, \b ASCII word boundaries — no lookaround, no backrefs —
# so Spark (java.util.regex) and a DuckDB oracle (RE2) match the same
# spans.  Deliberately conservative: emails and dotted-quad IPv4, the
# two forms with crisp portable grammars; free-form phone numbers are
# NOT matched (their grammars are locale soup and any regex both
# over- and under-redacts — a production pass uses a locale-aware
# library behind the same column contract).
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}",
    "ipv4": (r"\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}"
             r"(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\b"),
}


def pii_scrub(docs: DataFrame, text_col: str = "text",
              id_col: str = "doc_id",
              kinds: tuple[str, ...] = ("email", "ipv4")) -> DataFrame:
    """Redact PII spans and census them: (id, n_<kind>..., text_clean).

    The standard pre-training redaction pass (C4 strips lines by
    blocklist; The Pile / RefinedWeb-class pipelines regex-redact
    emails/IPs).  Each kind is replaced by a ``<KIND>`` sentinel so
    downstream token statistics stay stable, and the per-doc match
    count is emitted for corpus-health reporting (PII density per
    source is a release gate).

    Map-only: one ``regexp_count`` + one ``regexp_replace`` per kind,
    ZERO exchanges at any scale — the 100 TB shape is a straight scan.
    Replacement order follows ``kinds`` (email before ipv4 by default;
    the two grammars cannot overlap, so order only matters if a custom
    pattern nests another).
    """
    out = docs.select(F.col(id_col), F.col(text_col).alias("_t"))
    for kind in kinds:
        if kind not in PII_PATTERNS:
            raise ValueError(f"unknown PII kind {kind!r}; "
                             f"known: {sorted(PII_PATTERNS)}")
        pat = PII_PATTERNS[kind]
        out = (out.withColumn(f"n_{kind}",
                              F.regexp_count("_t", F.lit(pat)))
               .withColumn("_t", F.regexp_replace(
                   "_t", pat, f"<{kind.upper()}>")))
    return out.withColumnRenamed("_t", "text_clean")
