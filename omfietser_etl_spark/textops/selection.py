"""DSIR-style data selection: importance resampling toward a target
distribution (Xie et al. 2023, "Data Selection for Language Models
via Importance Resampling" — public paper; hashed-n-gram bag-of-words
importance weights).

Given a pool of raw documents and a TARGET subset (e.g. a trusted
high-quality slice), fit two hashed-n-gram multinomials — p_target
over the target slice, p_raw over the whole pool — and score every
document by its importance log-weight

    log w(x) = Σ_b c_x[b] · (log θ_t[b] − log θ_r[b])

then keep the top fraction. Documents distributionally closer to the
target score higher; the classic use is picking web data that looks
like Wikipedia/books before pretraining.

EXACTNESS (the oracle story): logs are the classic parity hazard
(libm vs JVM), so every log here is ``ilog2_q`` — floor(2^Q · log2 x)
computed by the integer square-and-compare algorithm (p = bit length
− 1; mantissa bits from repeated y←y² ≫ F with a conditional
normalize). Pure 64-bit integer ops, bit-identical in Python, Spark
and DuckDB (property-tested in tests/test_selection.py). With α=1
Laplace smoothing every log argument is a positive integer:

    λ[b] = ilog2(c_t[b]+1) − ilog2(c_r[b]+1)
    K    = ilog2(T_r+D)   − ilog2(T_t+D)
    score_q(x) = Σ_b c_x[b]·λ[b] + n_grams(x)·K

Scale shape (100 TB posture):
- featurize: tokens → unigram+bigram poly-hash buckets, map-side
  explode; per-doc counts ride the one doc-keyed shuffle;
- model fit: ONE bucket-keyed aggregation bounded by dim (≤4096
  cells after map-side combine), collected driver-side (KBs — the
  same bounded-collect contract as the k-means codebook) and
  broadcast back as the λ table;
- scoring: broadcast equi-join on bucket + one doc-keyed sum;
- selection: :func:`dsir_select` keeps the exact global rank but
  computes it with the distributed range-partitioned rank (never a
  single-partition window); :func:`dsir_select_threshold` is the
  true corpus-scale path — a mergeable quantile sketch brackets the
  cutoff, map-side filters classify everything outside the boundary
  band, and only the band is ranked exactly (same selected set,
  proven equal in tests/test_selection.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .analysis import tokens
from .constants import CHAR_SEED, MOD

DSIR_DIM = 2048   # hashed n-gram buckets
DSIR_Q = 20       # fixed-point fraction bits of ilog2_q
DSIR_F = 30       # mantissa fixed-point bits (y² < 2^62: no overflow)


def ilog2_q(x: int, q: int = DSIR_Q, f: int = DSIR_F) -> int:
    """floor(2^q · log2 x) for integer x ≥ 1 — exact integer
    square-and-compare; the DuckDB twin is ``dk_ilog2_steps`` in
    catalog/textops.py and both are property-tested equal."""
    if x < 1:
        raise ValueError("ilog2_q needs x >= 1")
    p = x.bit_length() - 1
    y = (x >> (p - f)) if p >= f else (x << (f - p))  # [2^f, 2^{f+1})
    r = 0
    for _ in range(q):
        y = (y * y) >> f
        if y >= (1 << (f + 1)):
            r = r * 2 + 1
            y >>= 1
        else:
            r = r * 2
    return (p << q) + r


def ilog2_q_expr(xexpr: str, q: int = DSIR_Q, f: int = DSIR_F) -> str:
    """Spark-SQL twin of :func:`ilog2_q` as ONE self-contained
    expression string — floor(2^q · log2 x) for an integer SQL
    expression ``xexpr`` (contract: x ≥ 1, same as the Python twin).

    Exactly the same square-and-compare: p from the binary length
    (``length(bin(x)) - 1`` — no float log anywhere), mantissa
    normalized to [2^f, 2^{f+1}), then q iterations of y←y²≫f with a
    conditional renormalize, run as a runtime accumulator inside a
    higher-order ``aggregate`` over ``sequence(1, q)``. The input and
    p are let-bound through single-element ``transform`` lambdas, so
    iterated squaring is a VALUE loop — never an exponentially
    re-expanded Column tree (every operator node is one Py4J call to
    build), and never a driver-side distinct-value collect (the ta10
    workaround this primitive retires for new operators). Property-tested equal to
    the Python/DuckDB twins in tests/test_selection.py.
    """
    two_f1 = 1 << (f + 1)
    step = (
        f"(a, i) -> transform(array(shiftright(a.y * a.y, {f})), y2 -> "
        f"CASE WHEN y2 >= {two_f1} THEN "
        f"struct(shiftright(y2, 1) AS y, a.r * 2 + 1 AS r) "
        f"ELSE struct(y2 AS y, a.r * 2 AS r) END)[0]"
    )
    body = (
        f"aggregate(sequence(1, {q}), "
        f"struct(CAST(CASE WHEN p >= {f} THEN shiftright(x, p - {f}) "
        f"ELSE shiftleft(x, {f} - p) END AS BIGINT) AS y, "
        f"CAST(0 AS BIGINT) AS r), "
        f"{step}, "
        f"a -> shiftleft(CAST(p AS BIGINT), {q}) + a.r)"
    )
    return (
        f"transform(array(CAST({xexpr} AS BIGINT)), x -> "
        f"transform(array(length(bin(x)) - 1), p -> {body})[0])[0]"
    )


def dsir_gram_counts(
    df: DataFrame, id_col: str, text_col: str, dim: int = DSIR_DIM
) -> DataFrame:
    """(doc, b, c) — per-document counts of hashed unigram+bigram
    buckets (NOT distinct: multinomial counts). Map-side explode.

    The gram hash is TOKEN-level: each token is char-folded ONCE
    (the engine-portable poly hash), and a bigram's hash combines the
    two token hashes in O(1) — ``(h₁·31 + h₂) % MOD`` — instead of
    re-char-folding the concatenated "w₁ w₂" string. Featurize is the
    DSIR map-side hot path, and bigrams carry ~2/3 of the char work
    under string hashing, so this is a ~3× cut in per-doc hash cost
    at any corpus size. h < MOD ≈ 1e9 keeps 31·h₁+h₂ < 2^35 — exact
    int64 in both engines; the oracle replays the same construction
    (catalog/textops._ts15_oracle)."""
    toks = df.select(F.col(id_col).alias("doc"), tokens(text_col).alias("t"))
    th = (
        f"transform(t, x -> aggregate(split(x, ''), CAST({CHAR_SEED} AS BIGINT), "
        f"(a, c) -> (a * 31 + ascii(c)) % {MOD}))"
    )
    gh = (
        "concat(th, CASE WHEN size(th) >= 2 THEN "
        "transform(sequence(1, size(th) - 1), "
        f"i -> (element_at(th, i) * 31 + element_at(th, i + 1)) % {MOD}) "
        "ELSE array() END)"
    )
    return (
        toks.select("doc", F.expr(th).alias("th"))
        .select("doc", F.explode(F.expr(gh)).alias("h"))
        .select("doc", (F.col("h") % dim).alias("b"))
        .groupBy("doc", "b")
        .agg(F.count("*").alias("c"))
    )


def dsir_lambda_from_counts(
    counts: DataFrame, flags: DataFrame, dim: int
) -> tuple[list[tuple[int, int]], int, int]:
    """Fit the importance table from a (doc, b, c) counts frame and a
    (doc, _is_t) flag frame: returns (λ rows [(bucket, λ)], K, n_docs).

    One bucket-keyed aggregation (≤ dim rows — bounded collect by
    construction). Raw model = the WHOLE pool. The pool size rides
    the same collect as a b=-1 sentinel row (real buckets are ≥ 0),
    so selection never needs a separate ``df.count()`` job."""
    per_bucket = counts.join(flags, "doc").groupBy("b").agg(
        F.sum(F.when(F.col("_is_t"), F.col("c")).otherwise(0)).alias("ct"),
        F.sum("c").alias("cr"),
    )
    n_row = flags.agg(F.count("*").alias("ct")).select(
        F.lit(-1).cast(per_bucket.schema["b"].dataType).alias("b"),
        F.col("ct").cast("long"),
        F.lit(0).cast("long").alias("cr"),
    )
    rows = per_bucket.unionByName(n_row).collect()
    n_docs = 0
    t_tot = r_tot = 0
    lam: list[tuple[int, int]] = []
    for r in rows:
        if r.b == -1:
            n_docs = int(r.ct)
            continue
        t_tot += r.ct
        r_tot += r.cr
        lam.append((int(r.b), ilog2_q(r.ct + 1) - ilog2_q(r.cr + 1)))
    k_const = ilog2_q(r_tot + dim) - ilog2_q(t_tot + dim)
    return lam, k_const, n_docs


def _dsir_scores_n(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_col: str,
    dim: int = DSIR_DIM,
) -> tuple[DataFrame, int]:
    """((doc, n_grams, score_q) frame, pool size) — the pool size is a
    by-product of the λ-fit collect (sentinel row), so selection does
    not pay a separate count job (round-5 verdict item 7)."""
    from ..cacheutil import release_then_register

    spark = df.sparkSession
    counts = release_then_register(
        "selection.dsir_scores",
        dsir_gram_counts(df, id_col, text_col, dim).cache(),
    )
    flags = df.select(F.col(id_col).alias("doc"), F.col(target_col).alias("_is_t"))
    lam, k_const, n_docs = dsir_lambda_from_counts(counts, flags, dim)
    lam_df = spark.createDataFrame(lam, "b long, lam long")
    contrib = (
        counts.join(F.broadcast(lam_df), "b")
        .groupBy("doc")
        .agg(F.sum(F.col("c") * F.col("lam")).alias("dsum"),
             F.sum("c").alias("n_grams"))
    )
    base = df.select(F.col(id_col).alias("doc"))
    scores = (
        base.join(contrib, "doc", "left")
        .select(
            "doc",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            (
                F.coalesce("dsum", F.lit(0))
                + F.coalesce("n_grams", F.lit(0)) * F.lit(k_const)
            ).cast("long").alias("score_q"),
        )
    )
    return scores, n_docs


def dsir_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_col: str,
    dim: int = DSIR_DIM,
) -> DataFrame:
    """(doc, n_grams, score_q) for every pool document — exact int64
    importance micro-log2-weights (scale 2^DSIR_Q). The featurize
    pass is computed once and cached: the model fit and the scoring
    join both read it (DSIR is inherently two-pass)."""
    return _dsir_scores_n(df, id_col, text_col, target_col, dim)[0]


def dsir_select(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_col: str,
    frac_num: int = 1,
    frac_den: int = 4,
    dim: int = DSIR_DIM,
) -> DataFrame:
    """Rank the pool by importance and keep the top ceil(N·frac):
    (doc, n_grams, score_q, rk, selected). Deterministic tie-break by
    doc id.

    The global rank is exact but never single-partition: it runs
    through :func:`..operators.rank.distributed_rank` (range
    repartition → parallel local row_number → bounded offset
    collect). When the consumer only needs the selected SET (no rank
    column), :func:`dsir_select_threshold` is cheaper still — it
    never ranks the full pool at all."""
    from ..operators.rank import distributed_rank

    scores, n = _dsir_scores_n(df, id_col, text_col, target_col, dim)
    k_sel = min((n * frac_num + frac_den - 1) // frac_den, n)
    ranked = distributed_rank(
        scores,
        [F.col("score_q").desc(), F.col("doc").asc()],
        rank_col="rk",
        scope="selection.dsir_select",
    )
    return ranked.select("doc", "n_grams", "score_q", "rk").withColumn(
        "selected", F.col("rk") <= F.lit(k_sel)
    )


def _score_brackets(
    scores: DataFrame, q_lo: float, q_hi: float, accuracy: int
) -> tuple[int, int]:
    """Bracket the selection cutoff with one mergeable-sketch agg:
    (t_lo, t_hi) score values at the two quantiles. Separated out so
    tests can inject deliberately-wrong brackets to exercise the
    exact-rank fallback guard."""
    row = scores.agg(
        F.percentile_approx(
            "score_q", F.array(F.lit(q_lo), F.lit(q_hi)), F.lit(accuracy)
        ).alias("t")
    ).collect()[0]
    return int(row.t[0]), int(row.t[1])


def dsir_select_threshold(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_col: str,
    frac_num: int = 1,
    frac_den: int = 4,
    dim: int = DSIR_DIM,
    accuracy: int = 10_000,
) -> DataFrame:
    """The corpus-scale selection path: (doc, n_grams, score_q,
    selected) with EXACTLY the same selected set as
    :func:`dsir_select` — but no global rank is ever computed over
    the pool.

    Shape: an approx-percentile sketch (mergeable partial agg, no
    shuffle) brackets the score cutoff with quantiles at
    q* ± 4/accuracy; counting a = rows above the band pins how many
    band rows are selected (m = k − a), and the BAND (≈ 8N/accuracy
    rows + cutoff-value tie mass) is ranked exactly via
    distributed_rank — never one task — purely to COLLECT ITS m-th
    ROW. That single boundary row (s*, d*) turns the whole selection
    into one stateless map-side predicate over the pool,

        selected ≡ score_q > s* OR (score_q = s* AND doc ≤ d*),

    correct for every row: above-band rows all exceed s* (a + m = k),
    band rows compare against the boundary under the exact total
    order, below-band rows sit strictly under t_lo ≤ s*. So the
    output plan is ONE scan — no self-union (the previous shape read
    the scored pool three times) and no join. If the sketch's
    rank-error guarantee is violated (counts put the cutoff outside
    the band), falls back to the exact full ranking — the selected
    set is correct by construction either way.
    """
    from ..cacheutil import release_then_register
    from ..operators.rank import distributed_rank

    order = [F.col("score_q").desc(), F.col("doc").asc()]
    scores_raw, n = _dsir_scores_n(df, id_col, text_col, target_col, dim)
    k_sel = min((n * frac_num + frac_den - 1) // frac_den, n)
    scores = release_then_register(
        "selection.dsir_threshold", scores_raw.cache()
    )
    if k_sel <= 0:
        return scores.withColumn("selected", F.lit(False))
    if k_sel >= n:
        return scores.withColumn("selected", F.lit(True))

    q_star = (n - k_sel) / n
    delta = 4.0 / accuracy
    q_lo, q_hi = max(0.0, q_star - delta), min(1.0, q_star + delta)
    t_lo, t_hi = _score_brackets(scores, q_lo, q_hi, accuracy)

    cnt = scores.agg(
        F.sum((F.col("score_q") > t_hi).cast("long")).alias("a"),
        F.sum(F.col("score_q").between(t_lo, t_hi).cast("long")).alias("b"),
    ).collect()[0]
    a, b = int(cnt.a), int(cnt.b)

    if a > k_sel or a + b < k_sel:  # sketch guarantee violated
        ranked = distributed_rank(
            scores, order, rank_col="_rk", scope="selection.dsir_threshold_fb"
        )
        return ranked.withColumn(
            "selected", F.col("_rk") <= F.lit(k_sel)
        ).drop("_rk")

    m = k_sel - a  # band rows selected, 0 <= m <= b by the guard
    if m == 0:
        return scores.withColumn("selected", F.col("score_q") > F.lit(t_hi))
    boundary = (
        distributed_rank(
            scores.filter(F.col("score_q").between(t_lo, t_hi))
            .select("doc", "score_q"),
            order,
            rank_col="_brk",
            scope="selection.dsir_threshold_band",
        )
        .filter(F.col("_brk") == m)
        .collect()[0]
    )
    s_star, d_star = boundary.score_q, boundary.doc
    return scores.withColumn(
        "selected",
        (F.col("score_q") > F.lit(s_star))
        | ((F.col("score_q") == F.lit(s_star)) & (F.col("doc") <= F.lit(d_star))),
    )


def perplexity_buckets(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020: split
    the corpus into head/middle/tail thirds by LM perplexity; the
    head feeds pretraining, the tail is discarded or down-weighted).
    The LM is the corpus's OWN exact-integer bigram model
    (:func:`.analysis.bigram_fluency` — higher fluency ≡ lower
    perplexity), so bucket boundaries are bit-replayable: rank by
    (fluency_bp DESC, doc) and cut at exact integer thirds
    (3·rk ≤ N, 3·rk ≤ 2N — cross-multiplied, no float quantiles).

    Output: (doc, n_bigrams, fluency_bp, rk, bucket). Scale shape:
    the LM fit is two term-keyed aggs + two equi-joins (ta8's plan);
    the rank is the distributed exact rank — never a single-partition
    window; N rides the rank's own offset collect (no count job).
    """
    from ..operators.rank import distributed_rank_n

    from .analysis import bigram_fluency

    scores = bigram_fluency(df, id_col, text_col)
    ranked, n = distributed_rank_n(
        scores,
        [F.col("fluency_bp").desc(), F.col("doc").asc()],
        rank_col="rk",
        scope="selection.perplexity_buckets",
    )
    return ranked.select(
        "doc", "n_bigrams", "fluency_bp", "rk",
        F.when(F.col("rk") * 3 <= F.lit(n), F.lit("head"))
        .when(F.col("rk") * 3 <= F.lit(2 * n), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
