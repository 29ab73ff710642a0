"""Pattern-mining / forecasting analytics lanes (round-5 continuation).

Operator families a production corpus/commerce pipeline runs beside the
dedup/similarity stack, each expressed Spark-first with an exact DuckDB
oracle. First batch:

- seasonal-naive forecast backtest (``events_seasonal_naive_forecast``) —
  the standard baseline every forecasting system is judged against;
- fixed-width histogram profiling (``orders_price_histogram``);
- association rules with confidence/lift (``basket_association_rules``) —
  the second half of the market-basket stack started by
  ``basket_part_pairs`` (relational.py);
- exact set-similarity self-join via prefix filtering
  (``dedup_prefix_filter_pairs``) — the AllPairs/PPJoin candidate
  discipline (Bayardo et al., WWW'07), an EXACT complement to the
  probabilistic MinHash-LSH family in dedup.py;
- triangle counting + global clustering coefficient
  (``graph_triangle_parts``) — degree-ordered orientation, the classic
  skew-proof distributed triangle shape (Suri & Vassilvitskii, WWW'11).

Second batch: exact-quantile binning (``orders_quantile_binning``),
conversion-latency distribution (``events_conversion_latency``), per-doc
keyword ranking (``docs_keyword_topk``), and the window value-function
family (``window_value_funcs``).

Cross-engine exactness follows the repo's oracle rules (oracle.py): all
counts are int64 (``CAST`` guards against DuckDB's HUGEINT widening), every
reported ratio is ONE division of identical int64 operands on both engines
(IEEE-deterministic), rounded defensively.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions.ckpt import pin
from ..functions.windows import ranked
from ..functions.localrows import local_rows_df
from ..registry import QueryRegistry
from ..streaming import events as sev  # module-level: rotation closure hash
from .text import TOKENS_SQL, tokens_col

REG = QueryRegistry()


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _baskets(
    spark: SparkSession, sf_dir: str, items_col: str = "parts"
) -> DataFrame:
    """Per-order distinct-part baskets — ONE collect_set shuffle (set union
    is partial-aggregable, deduping repeated lineitems inside the agg).
    Shared by the rules / triangle / FPGrowth lanes so the basket
    discipline (and any future A-priori degree cap) lives in one place."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias(items_col))
    )


def _inrow_pairs(cmp: str, f1: str, f2: str):
    """In-row ordered-pair expansion over a `parts` basket array: quadratic
    only in bounded basket size, no self-join shuffle. ``cmp`` picks the
    pair space: 'y != x' emits both directions (rules), 'y > x' canonical
    p1<p2 edges (triangles)."""
    return F.explode(
        F.expr(
            "flatten(transform(parts, x -> transform("
            f"filter(parts, y -> y {cmp} x), "
            f"y -> named_struct('{f1}', x, '{f2}', y))))"
        )
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest
# ---------------------------------------------------------------------------


@REG.add(
    "events_seasonal_naive_forecast",
    sql="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), scored AS (
      SELECT a.event_type, a.n AS actual, b.n AS forecast
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND b.day = a.day - 7
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days_scored,
           CAST(SUM(ABS(actual - forecast)) AS BIGINT) AS total_abs_err,
           CAST(SUM(actual) AS BIGINT) AS total_actual,
           ROUND(CAST(SUM(ABS(actual - forecast)) AS BIGINT)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS mae,
           ROUND(CAST(SUM(ABS(actual - forecast)) AS BIGINT)
                 / CAST(SUM(actual) AS DOUBLE), 6) AS wape
    FROM scored GROUP BY event_type ORDER BY event_type
    """,
)
def events_seasonal_naive_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive forecaster (predict today = same
    weekday last week) on daily event counts — the baseline every real
    forecasting model must beat, and the cheapest honest accuracy floor a
    pipeline can publish. Reports per-type MAE and WAPE (weighted absolute
    percentage error — the scale-robust aggregate form; per-day MAPE would
    need an engine-order-dependent float sum, rejected by the repo's
    determinism rules).

    Scale shape: the day-grain aggregate is one partial-aggregable groupBy
    on (type, day); the lag-7 alignment is an EQUI-join of that tiny frame
    to itself shifted by 7 days — join, not window, so a gap in the day
    grid can never silently misalign "7 rows back" with "7 days back".
    Days with no 7-days-prior observation are excluded (inner join) on
    both engines. All errors are integer counts; MAE/WAPE are each ONE
    int64/int64 division, bitwise-identical cross-engine."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    a, b = daily.alias("a"), daily.alias("b")
    scored = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("b.day") == F.date_sub(F.col("a.day"), 7)),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.n").alias("actual"),
        F.col("b.n").alias("forecast"),
    )
    per_type = scored.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days_scored"),
        F.sum(F.abs(F.col("actual") - F.col("forecast")))
        .cast("long")
        .alias("total_abs_err"),
        F.sum("actual").cast("long").alias("total_actual"),
    )
    return per_type.select(
        "event_type",
        "n_days_scored",
        "total_abs_err",
        "total_actual",
        F.round(
            F.col("total_abs_err") / F.col("n_days_scored").cast("double"), 6
        ).alias("mae"),
        F.round(
            F.col("total_abs_err") / F.col("total_actual").cast("double"), 6
        ).alias("wape"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Fixed-width histogram profiling
# ---------------------------------------------------------------------------

_HIST_BUCKET_CENTS = 2_500_000  # $25 000 buckets — o_totalprice spans ~$500k


@REG.add(
    "orders_price_histogram",
    sql=f"""
    SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) // {_HIST_BUCKET_CENTS}
             AS bucket,
           CAST((CAST(ROUND(o_totalprice * 100) AS BIGINT)
                 // {_HIST_BUCKET_CENTS}) * 25000 AS BIGINT) AS lo_dollars,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             / 100.0 AS revenue
    FROM orders
    GROUP BY 1, 2 ORDER BY 1
    """,
)
def orders_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width price histogram of order totals — the profiling shape
    behind every data-quality dashboard's distribution panel. FIXED bucket
    width ($25 000) rather than data-dependent min/max bounds: the bucket
    id is a pure per-row projection, so the whole histogram is ONE
    partial-aggregable groupBy — no extra bounds-scan pass, no one-row
    broadcast, and the same row always lands in the same bucket as data
    arrives (append-stable, unlike quantile bucketing).

    Exactness: bucket = integer division of exact cents (`div`/`//` — no
    float in the bucketing path); revenue = int64 cents summed then ONE
    /100.0."""
    o = _t(spark, sf_dir, "orders")
    c = F.round(F.col("o_totalprice") * 100).cast("long")
    bucket = F.expr(
        f"CAST(ROUND(o_totalprice * 100) AS BIGINT) div {_HIST_BUCKET_CENTS}"
    )
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            (F.sum(c) / F.lit(100.0)).alias("revenue"),
        )
        .select(
            "bucket",
            (F.col("bucket") * 25000).cast("long").alias("lo_dollars"),
            "n_orders",
            "revenue",
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Association rules (support / confidence / lift)
# ---------------------------------------------------------------------------

_RULE_MIN_PAIR_SUPPORT = 3


@REG.add(
    "basket_association_rules",
    sql=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), nb AS (
      SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM items
    ), isupp AS (
      SELECT l_partkey, COUNT(*) AS s FROM items GROUP BY 1
    ), ps AS (
      SELECT a.l_partkey AS antecedent, b.l_partkey AS consequent,
             COUNT(*) AS pair_support
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_RULE_MIN_PAIR_SUPPORT}
    )
    SELECT ps.antecedent, ps.consequent,
           CAST(ps.pair_support AS BIGINT) AS pair_support,
           CAST(sa.s AS BIGINT) AS antecedent_support,
           CAST(sc.s AS BIGINT) AS consequent_support,
           ROUND(CAST(ps.pair_support AS BIGINT)
                 / CAST(sa.s AS DOUBLE), 6) AS confidence,
           ROUND(CAST(ps.pair_support * nb.n_baskets AS BIGINT)
                 / CAST(sa.s * sc.s AS DOUBLE), 6) AS lift
    FROM ps
    JOIN isupp sa ON sa.l_partkey = ps.antecedent
    JOIN isupp sc ON sc.l_partkey = ps.consequent
    CROSS JOIN nb
    ORDER BY pair_support DESC, antecedent, consequent
    """,
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules A→B over order baskets with exact support,
    confidence (= P(B|A)) and lift (= observed/expected co-occurrence) —
    the recommendation-quality numbers `basket_part_pairs`' raw
    co-occurrence counts feed into. Both rule directions are emitted (the
    pair join keeps ``a.part <> b.part`` instead of ``<``), because
    confidence is asymmetric.

    Scale shape: ONE shuffle builds per-order baskets (`collect_set` —
    partial-aggregable set union, deduping repeated lineitems in the agg
    itself); ordered pairs are then generated IN-ROW by a codegen'd
    nested-array transform — quadratic only in bounded basket size and
    free of the self-join shuffle the naive formulation pays (measured at
    sf0.1: the join-based plan shuffles ~7 M pair rows twice; this plan
    once). Item supports ride the same basket frame; the lift
    denominator's basket count is a ONE-ROW aggregate broadcast (declared
    in the plan lint's ALLOWED ledger — the scalar-subquery shape).
    Confidence and lift are each ONE division of identical int64 operands
    cross-engine (the lift numerator/denominator are int64 products of
    small counts — no float accumulation anywhere). A pathological basket
    (10^4 items → 10^8 in-row pairs) is where the A-priori degree cap
    (slice/filter the array before pairing) applies — same doctrine as
    `basket_part_pairs`."""
    # FOUR consumers (basket count, pair generation, and the two support
    # sides sa/sc — Catalyst re-plans isupp per projection) each replayed
    # the lineitem scan + collect_set shuffle; one compact per-order row
    # is exactly the thing to pin (r7 scan audit: 4 lineitem scans → 1,
    # A/B-measured; on a lossy cluster this pin becomes persist(DISK))
    baskets = pin(_baskets(spark, sf_dir))
    nb = baskets.agg(F.count(F.lit(1)).alias("n_baskets"))
    isupp = (
        baskets.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("s"))
    )
    ps = (
        baskets.select(_inrow_pairs("!=", "antecedent", "consequent").alias("pr"))
        .select("pr.antecedent", "pr.consequent")
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).alias("pair_support"))
        .filter(F.col("pair_support") >= _RULE_MIN_PAIR_SUPPORT)
    )
    sa = isupp.select(
        F.col("l_partkey").alias("antecedent"), F.col("s").alias("sa")
    )
    sc = isupp.select(
        F.col("l_partkey").alias("consequent"), F.col("s").alias("sc")
    )
    return (
        ps.join(sa, "antecedent")
        .join(sc, "consequent")
        .crossJoin(F.broadcast(nb))
        .select(
            "antecedent",
            "consequent",
            F.col("pair_support").cast("long").alias("pair_support"),
            F.col("sa").cast("long").alias("antecedent_support"),
            F.col("sc").cast("long").alias("consequent_support"),
            F.round(
                F.col("pair_support") / F.col("sa").cast("double"), 6
            ).alias("confidence"),
            F.round(
                (F.col("pair_support") * F.col("n_baskets")).cast("long")
                / (F.col("sa") * F.col("sc")).cast("double"),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("pair_support").desc(), "antecedent", "consequent")
    )


# ---------------------------------------------------------------------------
# Exact set-similarity self-join via prefix filtering (AllPairs/PPJoin)
# ---------------------------------------------------------------------------

# Jaccard threshold t = 19/20 = 0.95 as an exact rational: keep iff
# 20·|A∩B| ≥ 19·|A∪B|. The synthetic documents are template-generated, so
# lower thresholds match most of the corpus (measured at sf0.01: t=0.6 →
# 71k pairs, t=0.95 → 1 887 pairs) — 0.95 is the "true near-duplicate" band.
_PF_NUM, _PF_DEN = 19, 20


@REG.add(
    "dedup_prefix_filter_pairs",
    sql=f"""
    WITH toks AS (
      SELECT doc_id, list_distinct({TOKENS_SQL}) AS t FROM documents
    ), sized AS (
      SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0
    ), rows_ AS (
      SELECT doc_id, unnest(t) AS tok FROM sized
    ), inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
      FROM rows_ a JOIN rows_ b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.a_id, i.b_id,
           CAST(i.i AS BIGINT) AS inter_tokens,
           CAST(sa.n + sb.n - i.i AS BIGINT) AS union_tokens,
           ROUND(CAST(i.i AS BIGINT)
                 / CAST(sa.n + sb.n - i.i AS DOUBLE), 6) AS jaccard
    FROM inter i
    JOIN sized sa ON i.a_id = sa.doc_id
    JOIN sized sb ON i.b_id = sb.doc_id
    WHERE {_PF_DEN} * i.i >= {_PF_NUM} * (sa.n + sb.n - i.i)
    ORDER BY a_id, b_id
    """,
)
def dedup_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT token-set Jaccard self-join at t = 0.95 via prefix filtering
    (AllPairs/PPJoin, Bayardo et al. WWW'07) — the deterministic complement
    to dedup.py's probabilistic MinHash-LSH: zero false negatives by
    construction, so it is the certification pass runs use to audit LSH
    recall on a sample, or the primary join where missing a duplicate is
    not acceptable.

    Candidate discipline (the lemma): order every doc's distinct tokens by
    ascending global document frequency (ties by token — one total order
    both engines can reproduce); with α = ceil(t·n) the minimum shared
    token of any qualifying pair MUST appear within the first n − α + 1
    tokens of BOTH docs, so candidates = equi-join on exploded PREFIX
    tokens only. Rarest-first ordering makes those prefix tokens the most
    selective ones — frequent tokens never generate candidates. The oracle
    side is the brute-force all-shared-token join (independent
    formulation; DuckDB at correctness SF), so the prefix pruning's
    zero-false-negative claim is verified, not assumed.

    Scale shape — three classic AllPairs disciplines compose here:
    (1) DICTIONARY ENCODING: tokens map to dense int ids ranked by
    ascending (df, token), so a doc's ascending-sorted id array IS its
    rarity order — the prefix is a plain slice, and the verify intersects
    int arrays instead of strings (~10× cheaper to shuffle and hash; the
    id-ranking window runs over the VOCABULARY aggregate, 31 tokens in
    this corpus — for open-vocabulary corpora promote to hash-derived ids,
    which need no global rank, only a fixed total order).
    (2) LENGTH FILTER: J ≥ t forces 20·min(|A|,|B|) ≥ 19·max(|A|,|B|), so
    size-mismatched candidates die BEFORE the distinct + verify joins.
    (3) The threshold test is integer cross-multiplication (20·inter ≥
    19·union) — no float comparison forks. Prefix length uses exact
    integer ceil: ceil(19n/20) = (19n + 19) div 20.

    Honest degeneracy note (measured): this synthetic corpus draws every
    doc from a 31-token vocabulary, so ~1.5 % of ALL doc pairs truly
    exceed t=0.95 — the output itself is ~190 k pairs at sf0.1 and NO
    exact algorithm can emit less than the truth. Production sequencing on
    template-heavy corpora is `corpus_template_phrases` (boilerplate
    censor) → exact dedup → this join; on natural vocabularies the prefix
    discipline prunes the candidate space instead of the data shape
    capping it."""
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.array_distinct(tokens_col()).alias("toks"))
        .filter(F.size("toks") > 0)
    )
    return prefix_filter_pairs_frame(docs)


def prefix_filter_pairs_frame(
    docs: DataFrame, num: int = _PF_NUM, den: int = _PF_DEN
) -> DataFrame:
    """The SHIPPED prefix-filter join core over a (doc_id, toks) frame at
    Jaccard threshold num/den — factored so the Hypothesis property test
    (random corpora vs brute force) exercises the exact production plan.
    See `dedup_prefix_filter_pairs` for the algorithm narrative."""
    tokrows = docs.select("doc_id", F.explode("toks").alias("tok"))
    # vocabulary-sized (|distinct tokens| rows) → cheap to pin; without the
    # checkpoint the explode→agg replays from the docs scan once for the
    # bitset-cutoff count job (a driver-side job the scan audit cannot see)
    # and again inside the sets build's tdict branch — A/B at sf0.1:
    # pairs 3.59→3.04 s, cross-source matrix 2.70→2.05 s. Open
    # vocabularies change the rank to hash ids (docstring) and would drop
    # this pin with it.
    dfreq = pin(tokrows.groupBy("tok").agg(F.count(F.lit(1)).alias("df")))
    tdict = dfreq.select(
        "tok",
        F.row_number()
        .over(
            ranked(
                "df",
                "tok",
                bounded_input="vocabulary-sized df aggregate (31 distinct "
                "tokens in this corpus; open-vocab promotion = hash ids, "
                "see docstring)",
            )
        )
        .cast("int")
        .alias("tid"),
    )
    # BITSET FAST PATH (4th AllPairs discipline, measured ~2× at sf0.1):
    # with a dictionary-encoded vocabulary of ≤ 63 ids, a doc's token SET
    # is one int64 bitmask and the verify intersection is
    # bit_count(mask_a & mask_b) — the two array-carrying verify joins
    # vanish entirely because each prefix row carries its doc's mask
    # through the candidate join. Open vocabularies (> 63 dense ids) keep
    # the general array_intersect path below; the cutoff costs one
    # vocabulary-sized count job (dfreq is a ≤|vocab|-row aggregate).
    vocab_size = dfreq.count()
    # materialized once (localCheckpoint): the prefix self-join consumes
    # this frame on BOTH sides (and the open-vocab verify twice more) —
    # uncheckpointed, each reference replayed explode→dfreq-join→groupBy
    # from the docs scan (4-6 documents scans per lane, 0 ReusedExchange;
    # sf0.1 medians 2.94→1.89 s pairs, 2.17→1.92 s cross-source matrix).
    # One compact (ids, mask) row per doc — exactly the thing to pin.
    set_aggs = [F.array_sort(F.collect_list("tid")).alias("ids")]
    if vocab_size <= 63:
        # tid is 1-based and distinct per doc: sum of 1<<(tid-1) IS the
        # set. Closed-vocab ONLY — with > 63 ids the shift overflows
        # int64 and ANSI Spark throws ARITHMETIC_OVERFLOW (found by
        # tools/scalecurve.py at K=4: the mask was computed
        # unconditionally even though the open-vocab path never read it)
        set_aggs.append(
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), tid - 1)")).alias("mask")
        )
    sets = pin(tokrows.join(tdict, "tok").groupBy("doc_id").agg(*set_aggs))
    n = F.size("ids")
    # prefix length p = n - ceil(t*n) + 1, integer-exact
    alpha = F.expr(f"({num} * size(ids) + {num}) div {den}")
    prefix_cols = ["doc_id", n.alias("n")] + (
        [F.col("mask")] if vocab_size <= 63 else []
    )
    prows = sets.select(
        *prefix_cols,
        F.explode(F.slice("ids", F.lit(1), n - alpha + F.lit(1))).alias("tid"),
    )
    pa, pb = prows.alias("pa"), prows.alias("pb")
    cand_join = pa.join(
        pb,
        (F.col("pa.tid") == F.col("pb.tid"))
        & (F.col("pa.doc_id") < F.col("pb.doc_id"))
        # length filter: size-incompatible pairs can never reach t
        & (
            F.lit(den) * F.least("pa.n", "pb.n")
            >= F.lit(num) * F.greatest("pa.n", "pb.n")
        ),
    )
    if vocab_size <= 63:
        verified = (
            cand_join.select(
                F.col("pa.doc_id").alias("a_id"),
                F.col("pb.doc_id").alias("b_id"),
                F.col("pa.mask").alias("ma"),
                F.col("pb.mask").alias("mb"),
            )
            .distinct()
            .select(
                "a_id",
                "b_id",
                F.bit_count(F.col("ma").bitwiseAND(F.col("mb"))).alias("i"),
                (F.bit_count("ma") + F.bit_count("mb")).alias("sizes"),
            )
            .filter(
                F.lit(den) * F.col("i")
                >= F.lit(num) * (F.col("sizes") - F.col("i"))
            )
        )
    else:
        cands = cand_join.select(
            F.col("pa.doc_id").alias("a_id"), F.col("pb.doc_id").alias("b_id")
        ).distinct()
        ta = sets.select(F.col("doc_id").alias("a_id"), F.col("ids").alias("ia"))
        tb = sets.select(F.col("doc_id").alias("b_id"), F.col("ids").alias("ib"))
        verified = (
            cands.join(ta, "a_id")
            .join(tb, "b_id")
            .select(
                "a_id",
                "b_id",
                F.size(F.array_intersect("ia", "ib")).alias("i"),
                (F.size("ia") + F.size("ib")).alias("sizes"),
            )
            .filter(
                F.lit(den) * F.col("i")
                >= F.lit(num) * (F.col("sizes") - F.col("i"))
            )
        )
    return verified.select(
        "a_id",
        "b_id",
        F.col("i").cast("long").alias("inter_tokens"),
        (F.col("sizes") - F.col("i")).cast("long").alias("union_tokens"),
        F.round(
            F.col("i") / (F.col("sizes") - F.col("i")).cast("double"), 6
        ).alias("jaccard"),
    ).orderBy("a_id", "b_id")


# ---------------------------------------------------------------------------
# Triangle counting / global clustering coefficient
# ---------------------------------------------------------------------------

_TRI_MIN_SUPPORT = 2  # co-purchase edge = pair in >= 2 distinct orders


@REG.add(
    "graph_triangle_parts",
    sql=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), edges AS (
      SELECT p1, p2 FROM pairs GROUP BY p1, p2
      HAVING COUNT(*) >= {_TRI_MIN_SUPPORT}
    ), deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT p1 AS node FROM edges UNION ALL SELECT p2 FROM edges
      ) GROUP BY node
    ), tri AS (
      SELECT COUNT(*) AS c
      FROM edges e1
      JOIN edges e2 ON e2.p1 = e1.p2
      JOIN edges e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
           (SELECT CAST(c AS BIGINT) FROM tri) AS n_triangles,
           (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg)
             AS n_wedges,
           CASE WHEN (SELECT SUM(d * (d - 1) // 2) FROM deg) > 0 THEN
             ROUND(CAST(3 * (SELECT c FROM tri) AS BIGINT)
                   / CAST((SELECT SUM(d * (d - 1) // 2) FROM deg) AS DOUBLE),
                   6)
           END AS global_clustering
    """,
)
def graph_triangle_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the co-purchase graph (parts co-occurring in ≥ 2
    distinct orders) plus the global clustering coefficient 3·triangles /
    wedges — the graph-health numbers behind community detection and
    recommendation neighborhoods, and the third graph-analytics family in
    the repo after connected components (dedup.py) and PageRank (graph.py).

    Scale shape: edges are DEGREE-ORDERED before the wedge join — each
    undirected edge is oriented low→high by the total order (degree, node),
    wedges pair the out-neighbors of each node, and a wedge closes iff its
    (v, w) endpoint pair is itself an oriented edge (equi-join on the pair
    key). Orientation bounds every out-degree by O(√m) regardless of hub
    skew (Suri & Vassilvitskii, WWW'11) — the classic fix for the
    wedge-explosion a raw adjacency self-join suffers on power-law graphs.
    The oracle counts the same triangles by the independent canonical
    a<b<c formulation. The final one-row metric assembly cross-joins four
    one-row aggregates (declared ALLOWED — scalar broadcasts, not a
    quadratic stage). Clustering coefficient = ONE int64/int64 division."""
    baskets = _baskets(spark, sf_dir)
    edges = pin(
        # canonical p1 < p2 pairs generated in-row (no self-join shuffle —
        # the shared basket-local expansion)
        baskets.select(_inrow_pairs(">", "p1", "p2").alias("e"))
        .select("e.p1", "e.p2")
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("m"))
        .filter(F.col("m") >= _TRI_MIN_SUPPORT)
        .select("p1", "p2")
        # the edge list feeds degree, both wedge sides, the closure probe
        # and two one-row aggregates — materialize the (small) edge set
        # once instead of re-running the basket expansion per consumer
    )
    return triangle_census_frame(edges)


def triangle_census_frame(edges: DataFrame) -> DataFrame:
    """The SHIPPED degree-ordered triangle census over a canonical
    (p1 < p2) edge frame — factored so the Hypothesis property test
    (random graphs vs brute enumeration) exercises the exact production
    plan. See `graph_triangle_parts` for the algorithm narrative."""
    deg = (
        edges.select(F.explode(F.array("p1", "p2")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    d1 = deg.select(F.col("node").alias("p1"), F.col("d").alias("deg1"))
    d2 = deg.select(F.col("node").alias("p2"), F.col("d").alias("deg2"))
    ed = edges.join(d1, "p1").join(d2, "p2")
    lo_first = F.struct(F.col("deg1").alias("d"), F.col("p1").alias("n")) < F.struct(
        F.col("deg2").alias("d"), F.col("p2").alias("n")
    )
    oriented = ed.select(
        F.when(lo_first, F.col("p1")).otherwise(F.col("p2")).alias("u"),
        F.when(lo_first, F.col("p2")).otherwise(F.col("p1")).alias("v"),
        F.when(
            lo_first, F.struct(F.col("deg2").alias("d"), F.col("p2").alias("n"))
        )
        .otherwise(F.struct(F.col("deg1").alias("d"), F.col("p1").alias("n")))
        .alias("kv"),
    )
    wl = oriented.select("u", F.col("v").alias("v1"), F.col("kv").alias("k1"))
    wr = oriented.select("u", F.col("v").alias("v2"), F.col("kv").alias("k2"))
    wedges = wl.join(wr, "u").filter(F.col("k1") < F.col("k2"))
    probe = oriented.select(
        F.col("u").alias("v1"), F.col("v").alias("v2")
    )
    tri = wedges.join(probe, ["v1", "v2"])
    one_rows = [
        deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes")),
        edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges")),
        tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles")),
        deg.agg(
            F.sum(F.expr("(d * (d - 1)) div 2")).cast("long").alias("n_wedges")
        ),
    ]
    row = reduce(lambda x, y: x.crossJoin(F.broadcast(y)), one_rows)
    return row.select(
        "n_nodes",
        "n_edges",
        "n_triangles",
        "n_wedges",
        # a wedge-free graph (isolated edges) has no defined clustering —
        # NULL, not a divide-by-zero under ANSI (hypothesis-found edge case)
        F.when(
            F.col("n_wedges") > 0,
            F.round(
                (F.lit(3) * F.col("n_triangles")).cast("long")
                / F.col("n_wedges").cast("double"),
                6,
            ),
        ).alias("global_clustering"),
    )


# ---------------------------------------------------------------------------
# Quantile binning (data-dependent complement to the fixed-width histogram)
# ---------------------------------------------------------------------------


@REG.add(
    "orders_quantile_binning",
    sql="""
    WITH c AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders
    ), b AS (
      SELECT QUANTILE_CONT(cents, 0.25) AS b25,
             QUANTILE_CONT(cents, 0.50) AS b50,
             QUANTILE_CONT(cents, 0.75) AS b75
      FROM c
    )
    SELECT CASE WHEN cents <= b25 THEN 0
                WHEN cents <= b50 THEN 1
                WHEN cents <= b75 THEN 2
                ELSE 3 END AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) / 100.0 AS revenue
    FROM c CROSS JOIN b
    GROUP BY 1 ORDER BY 1
    """,
)
def orders_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile binning of order totals — QuantileDiscretizer semantics with
    EXACT interpolated boundaries (Spark `percentile` ≡ DuckDB
    quantile_cont, the repo's established pairing), the data-dependent
    complement to `orders_price_histogram`'s fixed-width buckets. Rows at or
    below a boundary fall in the lower bin (<=, pinned on both engines).

    Scale shape: one aggregate computes all three boundaries, broadcast as
    a ONE-ROW frame onto the scan (declared ALLOWED — the scalar-subquery
    broadcast); binning is then a per-row CASE and the census one
    partial-aggregable groupBy. Exact interpolated percentiles sort each
    group once — at 100 TB swap in percentile_approx (documented in the
    `percentiles` lane); the exact form is the oracle-checkable one.
    Comparisons are int64 cents against the interpolated double boundary —
    cents ≤ 5·10^7 are exactly representable, so the promotion is lossless
    on both engines."""
    c = _t(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    b = c.agg(
        F.expr("percentile(cents, 0.25)").alias("b25"),
        F.expr("percentile(cents, 0.50)").alias("b50"),
        F.expr("percentile(cents, 0.75)").alias("b75"),
    )
    binned = c.crossJoin(F.broadcast(b)).select(
        F.when(F.col("cents") <= F.col("b25"), 0)
        .when(F.col("cents") <= F.col("b50"), 1)
        .when(F.col("cents") <= F.col("b75"), 2)
        .otherwise(3)
        .alias("bin"),
        "cents",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            (F.sum("cents") / F.lit(100.0)).alias("revenue"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Conversion latency distribution (ordered funnel, time-to-convert)
# ---------------------------------------------------------------------------


@REG.add(
    "events_conversion_latency",
    sql="""
    WITH ue AS (
      SELECT user_id, event_type, epoch_us(ts) AS us FROM events
    ), v AS (
      SELECT user_id, MIN(us) AS v_us FROM ue WHERE event_type = 'view'
      GROUP BY user_id
    ), p AS (
      SELECT ue.user_id, MIN(ue.us) - ANY_VALUE(v.v_us) AS lat_us
      FROM ue JOIN v ON ue.user_id = v.user_id
      WHERE ue.event_type = 'purchase' AND ue.us >= v.v_us
      GROUP BY ue.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           ROUND(CAST(SUM(lat_us) AS BIGINT)
                 / CAST(COUNT(*) AS DOUBLE) / 1e6, 6) AS mean_latency_s,
           ROUND(QUANTILE_CONT(lat_us, 0.50) / 1e6, 6) AS p50_latency_s,
           ROUND(QUANTILE_CONT(lat_us, 0.90) / 1e6, 6) AS p90_latency_s
    FROM p
    """,
)
def events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: for every user whose first purchase
    happens at-or-after their first view, the latency between the two —
    mean and exact p50/p90. The companion metric to `funnel_conversion`
    (relational.py): that lane counts WHO converts, this one reports HOW
    FAST, the number product teams actually page on.

    Scale shape: two groupBys on user_id (first view, first qualifying
    purchase) joined on the SAME key — co-partitioned after the first
    shuffle — then ONE global aggregate over the per-user latency frame
    (|users| rows). Latencies are integer microseconds end-to-end; the
    mean is one int64/int64 division and the percentiles the established
    percentile ≡ quantile_cont exact-interpolation pairing. No one-row
    broadcast anywhere — the lane is lint-clean by construction."""
    ue = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros(F.col("ts")).alias("us")
    )
    v = (
        ue.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("v_us"))
    )
    p = (
        ue.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("us") >= F.col("v_us"))
        .groupBy("user_id")
        .agg((F.min("us") - F.first("v_us")).alias("lat_us"))
    )
    return p.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.round(
            F.sum("lat_us") / F.count(F.lit(1)).cast("double") / F.lit(1e6), 6
        ).alias("mean_latency_s"),
        F.round(F.expr("percentile(lat_us, 0.50)") / F.lit(1e6), 6).alias(
            "p50_latency_s"
        ),
        F.round(F.expr("percentile(lat_us, 0.90)") / F.lit(1e6), 6).alias(
            "p90_latency_s"
        ),
    )


# ---------------------------------------------------------------------------
# Per-document keyword extraction (exact TF/DF ranking)
# ---------------------------------------------------------------------------

_KW_TOPK = 3
_KW_DOC_CAP = 200  # doc_id < cap keeps the per-doc output bounded for compare


@REG.add(
    "docs_keyword_topk",
    sql=f"""
    WITH tokrows AS (
      SELECT doc_id, unnest({TOKENS_SQL}) AS tok
      FROM documents WHERE doc_id < {_KW_DOC_CAP}
    ), tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM tokrows GROUP BY 1, 2
    ), df AS (
      SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
    ), scored AS (
      SELECT tf.doc_id, tf.tok,
             CAST(tf.tf AS BIGINT) AS tf, CAST(df.df AS BIGINT) AS df,
             CAST(tf.tf AS BIGINT) / CAST(df.df AS DOUBLE) AS score,
             ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                ORDER BY CAST(tf.tf AS BIGINT)
                                         / CAST(df.df AS DOUBLE) DESC,
                                         tf.tok) AS rk
      FROM tf JOIN df ON tf.tok = df.tok
    )
    SELECT doc_id, tok, tf, df, ROUND(score, 6) AS score,
           CAST(rk AS BIGINT) AS rk
    FROM scored WHERE rk <= {_KW_TOPK}
    ORDER BY doc_id, rk
    """,
)
def docs_keyword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinctive tokens per document, ranked by the exact TF/DF
    ratio — the keyword-extraction / doc-labeling primitive. TF/DF orders
    tokens the same way as TF-IDF for any monotone idf(df) (idf only
    re-scales by df), but stays a single int64/int64 division, so the
    ranking is bitwise-reproducible cross-engine — no ln() whose libm
    rounding could fork the rank order between engines.

    Scale shape: TF is one (doc, token) groupBy; DF one token groupBy over
    the TF frame (already deduplicated per doc); the ranking window is
    partitioned by doc_id with a deterministic (score DESC, token) order —
    per-partition state is one doc's distinct tokens. The doc_id cap is
    the compare-gate's output bound; production drops it."""
    tokrows = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _KW_DOC_CAP)
        .select("doc_id", F.explode(tokens_col()).alias("tok"))
    )
    tf = tokrows.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    score = F.col("tf") / F.col("df").cast("double")
    scored = (
        tf.join(df, "tok")
        .withColumn("score", score)
        .withColumn(
            "rk",
            F.row_number().over(
                ranked(F.col("score").desc(), F.col("tok"), partition_by="doc_id")
            ),
        )
        .filter(F.col("rk") <= _KW_TOPK)
    )
    return scored.select(
        "doc_id",
        "tok",
        "tf",
        "df",
        F.round("score", 6).alias("score"),
        F.col("rk").cast("long").alias("rk"),
    ).orderBy("doc_id", "rk")


# ---------------------------------------------------------------------------
# Window value functions (first_value / last_value / nth_value)
# ---------------------------------------------------------------------------


@REG.add(
    "window_value_funcs",
    sql="""
    WITH w AS (
      SELECT o_custkey,
             COUNT(*) OVER pc AS n_orders,
             FIRST_VALUE(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER po
               AS first_c,
             LAST_VALUE(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER po
               AS last_c,
             NTH_VALUE(CAST(ROUND(o_totalprice * 100) AS BIGINT), 2) OVER po
               AS second_c,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders WHERE o_custkey < 500
      WINDOW po AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING
                             AND UNBOUNDED FOLLOWING),
             pc AS (PARTITION BY o_custkey)
    )
    SELECT o_custkey, CAST(n_orders AS BIGINT) AS n_orders,
           first_c / 100.0 AS first_price,
           last_c / 100.0 AS last_price,
           second_c / 100.0 AS second_price
    FROM w WHERE rn = 1 ORDER BY o_custkey
    """,
)
def window_value_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The window VALUE-function family (first_value / last_value /
    nth_value) that completes the repo's window coverage beside the rank
    family and sliding frames: per customer, the first, latest, and second
    order price over the full (o_orderdate, o_orderkey)-ordered history.
    The frame is pinned to UNBOUNDED PRECEDING..UNBOUNDED FOLLOWING on both
    engines — last_value under the default frame (..CURRENT ROW) is the
    classic silent-wrong-answer, returning the current row instead of the
    latest; the explicit frame makes the semantics unambiguous.

    Scale shape: one shuffle on o_custkey serves every window (Catalyst
    collapses same-spec windows into one Window node); ordering ties are
    broken by the unique o_orderkey so nth_value is deterministic. Prices
    travel as int64 cents, ONE /100.0 at the end."""
    c = F.round(F.col("o_totalprice") * 100).cast("long")
    po = ranked("o_orderdate", "o_orderkey", partition_by="o_custkey").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    rn_w = ranked("o_orderdate", "o_orderkey", partition_by="o_custkey")
    w = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 500)
        .select(
            "o_custkey",
            F.count(F.lit(1))
            .over(Window.partitionBy("o_custkey"))
            .cast("long")
            .alias("n_orders"),
            F.first(c).over(po).alias("first_c"),
            F.last(c).over(po).alias("last_c"),
            F.nth_value(c, 2).over(po).alias("second_c"),
            F.row_number().over(rn_w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
    )
    return w.select(
        "o_custkey",
        "n_orders",
        (F.col("first_c") / F.lit(100.0)).alias("first_price"),
        (F.col("last_c") / F.lit(100.0)).alias("last_price"),
        (F.col("second_c") / F.lit(100.0)).alias("second_price"),
    ).orderBy("o_custkey")


# ---------------------------------------------------------------------------
# GROUP BY ALL / ORDER BY ALL (Spark 4 SQL sugar)
# ---------------------------------------------------------------------------


@REG.add(
    "sql_group_order_by_all",
    sql="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             / 100.0 AS revenue
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    ORDER BY o_orderstatus, o_orderpriority, n_orders, revenue
    """,
)
def sql_group_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`GROUP BY ALL` / `ORDER BY ALL` — the Spark 4 SQL sugar that groups
    by every non-aggregate select item and orders by every output column,
    eliminating the classic copy-paste drift between the SELECT list and
    the GROUP BY list. The oracle spells both lists out explicitly, so the
    sugar's resolution rule (non-aggregate items, in select order) is what
    is being verified. Plans identically to the explicit form — one
    partial-aggregable hash aggregate; money as int64 cents, ONE /100.0."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_all")
    df = spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 / CAST(100 AS DOUBLE) AS revenue
        FROM v_orders_all
        GROUP BY ALL
        ORDER BY ALL
        """
    )
    # the analyzed plan holds the resolved relation — drop the scratch view
    # so nothing leaks into the shared session (the same hygiene as
    # sql_session_variables' post-analysis DROP)
    spark.catalog.dropTempView("v_orders_all")
    return df


# ---------------------------------------------------------------------------
# Day-of-week seasonality profile
# ---------------------------------------------------------------------------


@REG.add(
    "events_dow_seasonality",
    sql="""
    WITH d AS (
      SELECT event_type, dayofweek(CAST(ts AS DATE)) + 1 AS dow, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), t AS (
      SELECT event_type, SUM(n) AS tot FROM d GROUP BY event_type
    )
    SELECT d.event_type AS event_type, CAST(d.dow AS BIGINT) AS dow,
           CAST(d.n AS BIGINT) AS n_events,
           ROUND(CAST(d.n AS BIGINT) / CAST(t.tot AS DOUBLE), 6)
             AS share_of_type
    FROM d JOIN t ON d.event_type = t.event_type
    ORDER BY d.event_type, dow
    """,
)
def events_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile per event type (count + share of the
    type's total) — the weekly-rhythm census that seasonal models (and the
    lag-7 seasonal-naive backtest above) presuppose. Day-of-week uses the
    1=Sunday..7=Saturday convention shared by Spark's dayofweek() and
    DuckDB's dayofweek()+1 — pinned here by computing BOTH sides from the
    same civil date (see below) rather than trusting engine defaults.

    Scale shape: one (type, dow) groupBy (≤ 7·|types| rows), one tiny
    per-type total join — the share denominator is a |types|-row EQUI-join,
    not a broadcast scalar. Shares are ONE int64/int64 division each.

    Cross-engine note: DuckDB's dayofweek() returns 0=Sunday..6 while
    Spark's returns 1=Sunday..7 — the oracle adds +1 explicitly, and a
    planted known-weekday test pins the alignment."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.dayofweek(F.to_date("ts")).cast("long").alias("dow")
    ).agg(F.count(F.lit(1)).alias("n"))
    t = d.groupBy("event_type").agg(F.sum("n").alias("tot"))
    return (
        d.join(t, "event_type")
        .select(
            "event_type",
            "dow",
            F.col("n").cast("long").alias("n_events"),
            F.round(F.col("n") / F.col("tot").cast("double"), 6).alias(
                "share_of_type"
            ),
        )
        .orderBy("event_type", "dow")
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation (exact quintile scores)
# ---------------------------------------------------------------------------


@REG.add(
    "customer_rfm_segments",
    sql="""
    WITH base AS (
      SELECT o_custkey,
             MAX(CAST(o_orderdate AS DATE)) AS last_day,
             COUNT(*) AS freq,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY o_custkey
    ), ref AS (
      SELECT MAX(last_day) AS ref_day FROM base
    ), rfm AS (
      SELECT o_custkey,
             CAST(ref.ref_day - base.last_day AS BIGINT) AS rec_days,
             CAST(freq AS BIGINT) AS freq,
             CAST(cents AS BIGINT) AS cents
      FROM base CROSS JOIN ref
    ), b AS (
      SELECT QUANTILE_CONT(rec_days, 0.5) AS r50,
             QUANTILE_CONT(freq, 0.5) AS f50,
             QUANTILE_CONT(cents, 0.5) AS m50
      FROM rfm
    )
    SELECT CASE WHEN rec_days <= r50 THEN 2 ELSE 1 END AS r_score,
           CASE WHEN freq > f50 THEN 2 ELSE 1 END AS f_score,
           CASE WHEN cents > m50 THEN 2 ELSE 1 END AS m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(cents) AS BIGINT) / 100.0 AS segment_revenue
    FROM rfm CROSS JOIN b
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation with
    EXACT median splits — the classic CRM segmentation: each customer is
    scored high/low on each dimension against the exact interpolated
    median, and the 8 cells report size and revenue. Recent-is-good means
    recency uses <= (low days → high score) while frequency/monetary use >
    (strictly-above-median is high) — both pinned on both engines.

    Scale shape: one o_custkey groupBy builds the per-customer base; the
    reference day and the three medians are two ONE-ROW aggregate
    broadcasts (the scalar-subquery shape, ALLOWED ledger); the final cell
    census is a ≤8-row groupBy. Recency is integer days, money int64
    cents; the only doubles are the interpolated medians (percentile ≡
    quantile_cont) and the final /100.0."""
    # per-customer grain (compact vs orders) and consumed by THREE jobs —
    # the reference-day aggregate, the median aggregate, and the final
    # scoring pass; unpinned, each replays the orders scan + groupBy
    # (r7 scan audit: 4 orders scans → 1, A/B-measured)
    base = pin(
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max(F.to_date("o_orderdate")).alias("last_day"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            ),
        )
    )
    ref = base.agg(F.max("last_day").alias("ref_day"))
    rfm = base.crossJoin(F.broadcast(ref)).select(
        "o_custkey",
        F.datediff("ref_day", "last_day").cast("long").alias("rec_days"),
        F.col("freq").cast("long").alias("freq"),
        F.col("cents").cast("long").alias("cents"),
    )
    b = rfm.agg(
        F.expr("percentile(rec_days, 0.5)").alias("r50"),
        F.expr("percentile(freq, 0.5)").alias("f50"),
        F.expr("percentile(cents, 0.5)").alias("m50"),
    )
    return (
        rfm.crossJoin(F.broadcast(b))
        .select(
            F.when(F.col("rec_days") <= F.col("r50"), 2).otherwise(1).alias("r_score"),
            F.when(F.col("freq") > F.col("f50"), 2).otherwise(1).alias("f_score"),
            F.when(F.col("cents") > F.col("m50"), 2).otherwise(1).alias("m_score"),
            "cents",
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            (F.sum("cents") / F.lit(100.0)).alias("segment_revenue"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


# ---------------------------------------------------------------------------
# MLlib FPGrowth frequent itemsets (rows-only: tree construction order is
# MLlib-internal; goldens + cross-lane parity pin the semantics)
# ---------------------------------------------------------------------------

_FP_MIN_SUPPORT = 0.0002  # ~count >= 3 at sf0.01 basket counts


# rows-only by design: FPGrowth enumerates frequent itemsets of EVERY size,
# which SQL can only mirror by unbounded self-joins; the counts themselves
# are exact and are pinned two ways instead: tests/test_mining.py checks
# (a) a pure-Python Apriori reference on a planted basket set and (b) that
# every size-2 itemset's freq equals basket_association_rules' exact
# pair_support on the same sf-dir.
@REG.add("ml_fpgrowth_itemsets")
def ml_fpgrowth_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib FPGrowth frequent-itemset mining over order baskets — the
    all-sizes generalization of `basket_association_rules`' exact pair
    statistics, via the FP-tree algorithm (no candidate generation, two
    scans). Output: itemset as a comma-joined string of the SORTED item
    ids (deterministic presentation of MLlib's arbitrary item order; the
    string form is the engine's driver-boundary convention for array
    results — cf. `agg_collect_sorted` — because raw array columns are
    unhashable at the pandas canonicalizer, the exact failure recorded in
    CORRECTNESS_r06), its exact basket frequency, and the itemset size;
    ordered by (freq DESC, size, items) for stable reporting.

    Scale shape: Spark's distributed FPGrowth partitions work by
    conditional bases (PFP, Li et al. 2008): each worker mines the
    conditional FP-tree of its item partition — communication is one
    groupBy on item suffixes, memory is bounded by per-partition tree
    size, not corpus size. minSupport is a fraction, so the lane is
    SF-stable. The basket build is the same single collect_set shuffle as
    the exact lanes."""
    from pyspark.ml.fpm import FPGrowth

    # FPGrowth.fit makes several passes over its input RDD (count, frequent
    # items, conditional trees) WITHOUT caching it ("Input data is not
    # cached" MLlib warning) — uncheckpointed, each pass replays the
    # lineitem scan + collect_set shuffle (r12)
    baskets = pin(_baskets(spark, sf_dir, items_col="items"), eager=False)
    model = FPGrowth(
        itemsCol="items", minSupport=_FP_MIN_SUPPORT, minConfidence=0.5
    ).fit(baskets)
    return (
        model.freqItemsets.select(
            F.array_join(
                F.transform(
                    F.array_sort("items"), lambda x: x.cast("string")
                ),
                ",",
            ).alias("items"),
            F.col("freq").cast("long").alias("freq"),
            F.size("items").cast("long").alias("set_size"),
        )
        .orderBy(F.col("freq").desc(), "set_size", "items")
    )


# ---------------------------------------------------------------------------
# Streaming top-k per window (trending entities)
# ---------------------------------------------------------------------------

_TOPK_PER_WINDOW = 3


@REG.add(
    "stream_topk_users_per_window",
    sql=f"""
    WITH wc AS (
      SELECT CAST(FLOOR(EPOCH(ts) / 300) * 300 AS BIGINT)
               AS window_start_epoch,
             user_id, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT window_start_epoch, CAST(rk AS BIGINT) AS rk, user_id,
           CAST(n AS BIGINT) AS n
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start_epoch
                                   ORDER BY n DESC, user_id) AS rk
      FROM wc
    ) WHERE rk <= {_TOPK_PER_WINDOW}
    ORDER BY window_start_epoch, rk
    """,
)
def stream_topk_users_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending-entities: the top-{k} most active users per 5-minute
    tumbling window, fed by an ACTUAL streaming aggregation — the
    "trending hashtags" topology every event platform runs. The streaming
    stage holds (window, user) counts (state bounded by open windows ×
    active users, watermark-evicted); the rank is a BATCH window over the
    already-aggregated sink output, partitioned by window — streaming
    emits the counts, a stateless rollup picks winners, so the stream's
    state never holds a heap, only counters.

    complete-mode contract: same as `stream_tumbling_counts` — the oracle
    needs the trailing still-open windows that append-mode suppresses;
    the memory sink's row ceiling guards the bounded-input assumption
    loudly (streaming/events.run_to_completion). Ties rank
    deterministically by (n DESC, user_id)."""
    ev = sev.read_event_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").cast("long").alias("window_start_epoch"),
            "user_id",
            "n",
        )
    )
    counts = sev.run_to_completion(agg, "complete")
    ranked_counts = counts.withColumn(
        "rk",
        F.row_number().over(
            ranked(
                F.col("n").desc(),
                F.col("user_id"),
                partition_by="window_start_epoch",
            )
        ),
    )
    return (
        ranked_counts.filter(F.col("rk") <= _TOPK_PER_WINDOW)
        .select(
            "window_start_epoch",
            F.col("rk").cast("long").alias("rk"),
            "user_id",
            F.col("n").cast("long").alias("n"),
        )
        .orderBy("window_start_epoch", "rk")
    )


# ---------------------------------------------------------------------------
# One-pass PCA (covariance sufficient statistics + driver-side eigen)
# ---------------------------------------------------------------------------

_PCA_TOP = 4


# rows-only by design: eigendecomposition outputs have no SQL form and the
# float32 sums are reduction-order-dependent; tests/test_mining.py pins the
# result against an independent numpy PCA on the same rows (rtol 1e-6).
@REG.add("emb_pca_covariance")
def emb_pca_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA of the embedding table via ONE distributed pass of Arrow-batched
    partial sufficient statistics: every task's mapInPandas batch reduces
    to (count, Σx, X'X) with numpy BLAS — one k + k² block per PARTITION
    enters a second-stage distributed reduce (repartition(1) + the same
    summing kernel), so exactly ONE (1+k+k²)-double row reaches the
    driver no matter how many scan partitions a 100 TB table has (r6,
    VERDICT r5 nit #4: the bound is now structural, not an assumption
    about partition count). The driver assembles the k×k covariance and
    runs the symmetric eigensolver on 64×64. The same
    sufficient-statistics discipline as `corr_matrix_onepass`, extended
    from correlations to spectra. Output: the top components' eigenvalue,
    explained-variance ratio, and cumulative ratio.

    Why mapInPandas and not a 2 000-column SQL aggregate: the widths are
    Catalyst-hostile — k(k+3)/2 sum expressions at k=64 spent ~20 s in
    expression compilation for 5 000 rows (measured), while the Arrow
    path's per-batch X'X is a single dgemm. This is the distributed-BLAS
    pattern: JVM moves batches, numpy does the flops, the shuffle carries
    ONE (1+k+k²)-double row per partition regardless of row count, and
    the reduce stage folds those into a single row before collect.

    The embedding dimensionality comes from the data (np.vstack fails
    loudly on a ragged table), not hardcoded: the first version of this
    lane assumed k=16 against 64-dim vectors and silently did PCA on a
    prefix — caught by the numpy golden test, kept as a cautionary note.

    Scale shape: data-sized work is one map pass; driver work is
    O(partitions·k²) + O(k³). For k in the thousands the promotion path is
    blocked Gram accumulation (BlockMatrix) or randomized sketching."""
    import numpy as np
    import pandas as pd

    def partial_stats(batches):
        n = 0
        s = None
        g = None
        for pdf in batches:
            X = np.vstack(pdf["embedding"].to_numpy()).astype("float64")
            n += X.shape[0]
            s = X.sum(axis=0) if s is None else s + X.sum(axis=0)
            gram = X.T @ X
            g = gram if g is None else g + gram
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]}
            )

    def merge_stats(batches):
        # second-stage reduce over the per-partition partials: associative
        # float64 sums, one output row total
        n = 0
        s = None
        g = None
        for pdf in batches:
            n += int(pdf["n"].sum())
            ps = np.vstack(pdf["s"].to_numpy()).sum(axis=0)
            pg = np.vstack(pdf["g"].to_numpy()).sum(axis=0)
            s = ps if s is None else s + ps
            g = pg if g is None else g + pg
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "g": [g.tolist()]}
            )

    schema = "n long, s array<double>, g array<double>"
    parts = (
        _t(spark, sf_dir, "embeddings")
        .select("embedding")
        .mapInPandas(partial_stats, schema)
        # tiny shuffle (|partitions| rows of 1+k+k² doubles) into one
        # reduce task; repartition, NOT coalesce — coalesce would merge
        # upstream and serialize the data-sized map pass
        .repartition(1)
        .mapInPandas(merge_stats, schema)
        .collect()
    )
    assert len(parts) == 1, f"reduce stage must yield one row, got {len(parts)}"
    n = parts[0]["n"]
    k = len(parts[0]["s"])
    s = np.array(parts[0]["s"])
    g = np.array(parts[0]["g"]).reshape(k, k)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    evals = np.linalg.eigvalsh(cov)[::-1]  # descending
    total = float(evals.sum())
    out = []
    cum = 0.0
    for c in range(_PCA_TOP):
        ev = float(evals[c])
        cum += ev
        out.append((c + 1, round(ev, 9), round(ev / total, 6), round(cum / total, 6)))
    return local_rows_df(
        spark, out, "component int, eigenvalue double, evr double, cum_evr double"
    )


# ---------------------------------------------------------------------------
# Data-quality: day-over-day volume anomaly flags
# ---------------------------------------------------------------------------


@REG.add(
    "dq_volume_anomaly",
    sql="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), lagged AS (
      SELECT event_type, day, CAST(n AS BIGINT) AS n,
             CAST(LAG(n) OVER (PARTITION BY event_type ORDER BY day)
                  AS BIGINT) AS prev_n
      FROM daily
    )
    SELECT event_type, day, n, prev_n,
           CAST(ABS(n - prev_n) * 2 > prev_n AS BOOLEAN) AS flagged
    FROM lagged WHERE prev_n IS NOT NULL
    ORDER BY event_type, day
    """,
)
def dq_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-observability volume monitor: per event type, each day's
    row count vs the previous OBSERVED day, flagged when the change
    exceeds 50 % — the day-over-day canary every ingest dashboard pages
    on. The threshold test is integer cross-multiplication
    (2·|Δ| > prev), no float ratio to fork across engines; first observed
    day per type has no baseline and is excluded on both sides.

    Scale shape: one (type, day) partial-aggregable groupBy, then a lag
    window over the DAY-GRAIN aggregate partitioned by type — per-partition
    state is the day grid, never raw events."""
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    lagged = daily.select(
        "event_type",
        "day",
        F.col("n").cast("long").alias("n"),
        F.lag("n")
        .over(ranked("day", partition_by="event_type"))
        .cast("long")
        .alias("prev_n"),
    )
    return (
        lagged.filter(F.col("prev_n").isNotNull())
        .select(
            "event_type",
            "day",
            "n",
            "prev_n",
            (F.abs(F.col("n") - F.col("prev_n")) * 2 > F.col("prev_n")).alias(
                "flagged"
            ),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# Event-sequence transition matrix (first-order Markov)
# ---------------------------------------------------------------------------


@REG.add(
    "events_markov_transitions",
    sql="""
    WITH seq AS (
      SELECT user_id, event_type AS cur,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ), pairs AS (
      SELECT cur, nxt, COUNT(*) AS n FROM seq WHERE nxt IS NOT NULL
      GROUP BY cur, nxt
    ), tot AS (
      SELECT cur, SUM(n) AS t FROM pairs GROUP BY cur
    )
    SELECT p.cur AS cur, p.nxt AS nxt, CAST(p.n AS BIGINT) AS n,
           ROUND(CAST(p.n AS BIGINT) / CAST(t.t AS DOUBLE), 6) AS prob
    FROM pairs p JOIN tot t ON p.cur = t.cur
    ORDER BY cur, nxt
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user event sequences:
    P(next event type | current), estimated from each user's
    (ts, event_id)-ordered stream — the sequence model behind
    next-action prediction, funnel design, and bot detection (bots show
    degenerate rows). The last event of each user has no successor and is
    excluded on both engines.

    Scale shape: the successor pairing is ONE lead() window per user
    (user_id shuffle, per-partition state = one user's events — the
    same per-entity series discipline as the EWMA/CUSUM lanes); the
    matrix is a |types|² groupBy and the row-normalization an equi-join
    with the |types|-row totals (not a broadcast scalar). Probabilities
    are ONE int64/int64 division each. Deterministic (ts, event_id)
    ordering — the repo's standard tie-break."""
    seq = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_type").alias("cur"),
        F.lead("event_type")
        .over(ranked("ts", "event_id", partition_by="user_id"))
        .alias("nxt"),
    )
    pairs = (
        seq.filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = pairs.groupBy("cur").agg(F.sum("n").alias("t"))
    return (
        pairs.join(tot, "cur")
        .select(
            "cur",
            "nxt",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("n") / F.col("t").cast("double"), 6).alias("prob"),
        )
        .orderBy("cur", "nxt")
    )


# ---------------------------------------------------------------------------
# Cohort LTV triangle (first-order-month cohorts x months-since)
# ---------------------------------------------------------------------------


@REG.add(
    "orders_cohort_ltv",
    sql="""
    WITH firstm AS (
      SELECT o_custkey,
             MIN(year(o_orderdate) * 12 + month(o_orderdate)) AS cm
      FROM orders GROUP BY o_custkey
    )
    SELECT CAST(f.cm AS BIGINT) AS cohort_month_idx,
           CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) - f.cm
                AS BIGINT) AS month_age,
           CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             / 100.0 AS revenue
    FROM orders o JOIN firstm f ON o.o_custkey = f.o_custkey
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value triangle: customers grouped by their FIRST
    order month, revenue and active-customer counts tracked by month-age —
    the curve every retention/LTV model is fit to (the commerce twin of
    `events_cohort_retention`). Months are exact integers (year·12+month),
    so cohort assignment and age can never drift on timezone or
    month-length arithmetic; the cohort month is reported as that index.

    Scale shape: first-month per customer is one partial-aggregable
    groupBy; the cohort join is on the SAME o_custkey key (co-partitioned
    after the first shuffle, AQE reuses the exchange); the triangle is a
    (cohort, age) groupBy whose COUNT(DISTINCT) uses the standard
    two-phase expand on 8-byte keys. Money int64 cents, ONE /100.0."""
    o = _t(spark, sf_dir, "orders")
    midx = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m")
    firstm = o.select("o_custkey", midx).groupBy("o_custkey").agg(
        F.min("m").alias("cm")
    )
    return (
        o.select(
            "o_custkey",
            midx,
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .join(firstm, "o_custkey")
        .groupBy(
            F.col("cm").cast("long").alias("cohort_month_idx"),
            (F.col("m") - F.col("cm")).cast("long").alias("month_age"),
        )
        .agg(
            F.countDistinct("o_custkey").cast("long").alias("n_active"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            (F.sum("cents") / F.lit(100.0)).alias("revenue"),
        )
        .orderBy("cohort_month_idx", "month_age")
    )


# ---------------------------------------------------------------------------
# Supplier concentration (HHI) per part
# ---------------------------------------------------------------------------

_HHI_TOP = 100


@REG.add(
    "supplier_concentration_hhi",
    sql=f"""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS c
      FROM lineitem GROUP BY 1, 2
    ), agg AS (
      SELECT l_partkey,
             CAST(COUNT(*) AS BIGINT) AS n_suppliers,
             CAST(SUM(c) AS BIGINT) AS total_cents,
             CAST(SUM(c * c) AS BIGINT) AS sq_cents,
             CAST(MAX(c) AS BIGINT) AS top_cents
      FROM ps GROUP BY l_partkey
    )
    SELECT l_partkey, n_suppliers,
           CAST(total_cents AS BIGINT) / 100.0 AS total_revenue,
           ROUND(CAST(sq_cents AS DOUBLE)
                 / (CAST(total_cents AS DOUBLE) * total_cents), 6) AS hhi,
           ROUND(CAST(top_cents AS BIGINT)
                 / CAST(total_cents AS DOUBLE), 6) AS top_share
    FROM agg
    ORDER BY hhi DESC, l_partkey LIMIT {_HHI_TOP}
    """,
)
def supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-chain concentration risk: the Herfindahl–Hirschman index of
    supplier revenue share per part (1.0 = sole-sourced), plus the top
    supplier's share — the procurement-risk ranking behind dual-sourcing
    decisions. HHI = Σsᵢ²/total² is computed from INTEGER sufficient
    statistics (Σcᵢ², Σcᵢ in cents) and becomes a double in exactly one
    division, so the top-100 ranking is bitwise-identical cross-engine
    (ties broken by part key). int64 headroom: Σcᵢ² stays exact while any
    single (part, supplier) revenue < ~$30 M — loud overflow under ANSI
    mode otherwise, not silent wraparound.

    Scale shape: one (part, supplier) groupBy, one part groupBy — both
    partial-aggregable on co-hashed keys — and a TakeOrderedAndProject
    top-100; no window, no broadcast."""
    ps = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "c"
            )
        )
    )
    agg = ps.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum("c").cast("long").alias("total_cents"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sq_cents"),
        F.max("c").cast("long").alias("top_cents"),
    )
    return (
        agg.select(
            "l_partkey",
            "n_suppliers",
            (F.col("total_cents") / F.lit(100.0)).alias("total_revenue"),
            F.round(
                F.col("sq_cents").cast("double")
                / (F.col("total_cents").cast("double") * F.col("total_cents")),
                6,
            ).alias("hhi"),
            F.round(
                F.col("top_cents") / F.col("total_cents").cast("double"), 6
            ).alias("top_share"),
        )
        .orderBy(F.col("hhi").desc(), "l_partkey")
        .limit(_HHI_TOP)
    )


# ---------------------------------------------------------------------------
# Top event paths (order-2 sequence mining)
# ---------------------------------------------------------------------------

_PATH_TOPK = 10


@REG.add(
    "events_trigram_paths",
    sql=f"""
    WITH seq AS (
      SELECT user_id, event_type AS e0,
             LEAD(event_type, 1) OVER w AS e1,
             LEAD(event_type, 2) OVER w AS e2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e0 || '>' || e1 || '>' || e2 AS path, CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE e2 IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, path LIMIT {_PATH_TOPK}
    """,
)
def events_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event PATHS: the most common 3-step user journeys
    (view>click>purchase, ...) — order-2 sequence mining, the natural
    widening of `events_markov_transitions`' order-1 matrix and the
    clickstream query behind journey dashboards. Sequences end-truncate
    (a user's last two events start no trigram) on both engines.

    Scale shape: two lead() offsets over ONE window spec — Catalyst
    collapses them into a single Window node, so per-user state is one
    ordered pass regardless of path length; the path census is a
    |types|³-bounded groupBy and the top-10 a TakeOrderedAndProject.
    Deterministic ties by path string."""
    w = ranked("ts", "event_id", partition_by="user_id")
    seq = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("e0"),
        F.lead("event_type", 1).over(w).alias("e1"),
        F.lead("event_type", 2).over(w).alias("e2"),
    )
    return (
        seq.filter(F.col("e2").isNotNull())
        .select(F.concat_ws(">", "e0", "e1", "e2").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("path", F.col("n").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(_PATH_TOPK)
    )


# ---------------------------------------------------------------------------
# Order inter-arrival distribution (purchase-frequency modeling)
# ---------------------------------------------------------------------------


@REG.add(
    "orders_interarrival_stats",
    sql="""
    WITH gaps AS (
      SELECT CAST(o_orderdate AS DATE)
             - LAG(CAST(o_orderdate AS DATE))
               OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey) AS gap_days
      FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_gaps,
           ROUND(CAST(SUM(gap_days) AS BIGINT)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS mean_gap_days,
           ROUND(QUANTILE_CONT(gap_days, 0.50), 6) AS p50_gap_days,
           ROUND(QUANTILE_CONT(gap_days, 0.90), 6) AS p90_gap_days
    FROM gaps WHERE gap_days IS NOT NULL
    """,
)
def orders_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of days between a customer's consecutive orders — the
    inter-arrival statistic behind purchase-frequency / churn-hazard
    models (and the empirical check on the Poisson assumption most LTV
    models make). Gaps are exact integer day differences from a lag()
    over each customer's (date, orderkey)-ordered history; first orders
    have no gap and are excluded on both engines.

    Scale shape: one o_custkey shuffle for the lag window (per-partition
    state = one customer's orders), then ONE global aggregate over the
    gap column; mean is one int64/int64 division and the percentiles the
    established percentile ≡ quantile_cont pairing (100 TB promotion:
    percentile_approx, documented in the `percentiles` lane)."""
    gaps = _t(spark, sf_dir, "orders").select(
        (
            F.datediff(
                F.to_date("o_orderdate"),
                F.lag(F.to_date("o_orderdate")).over(
                    ranked("o_orderdate", "o_orderkey", partition_by="o_custkey")
                ),
            )
        ).alias("gap_days")
    )
    return gaps.filter(F.col("gap_days").isNotNull()).agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.round(
            F.sum("gap_days") / F.count(F.lit(1)).cast("double"), 6
        ).alias("mean_gap_days"),
        F.round(F.expr("percentile(gap_days, 0.50)"), 6).alias("p50_gap_days"),
        F.round(F.expr("percentile(gap_days, 0.90)"), 6).alias("p90_gap_days"),
    )


# ---------------------------------------------------------------------------
# MLlib model-family depth: GBT spam classifier + ALS recommender
# ---------------------------------------------------------------------------


# rows-only by design: tree-ensemble scores have no SQL form;
# tests/test_mining.py pins accuracy > 0.8 on the deterministic fixture
# (same golden discipline as ml_reference_spam's RF/DT).
@REG.add("ml_gbt_spam")
def ml_gbt_spam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient-boosted trees on the spam task — the third tree-family
    member beside the reference's RandomForest and DecisionTree
    (SpamClassification.java:86-89), through the SAME 7-stage pipeline
    (`ml/spam.build_pipeline`), so the comparison isolates the model.
    GBT is the boosting counterpart (sequential residual fitting) to
    RF's bagging; Spark parallelizes WITHIN each boosting iteration.

    Scale shape: identical to the reference pipeline — tokenize/TF/IDF
    are map-only, each boosting iteration is a distributed tree fit."""
    from pyspark.ml.classification import GBTClassifier
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator

    from ..ml import fixtures
    from ..ml.spam import build_pipeline

    raw = fixtures.spam(spark, n=2000)
    clean = raw.select("v1", "v2").na.drop()
    train, test = clean.randomSplit([0.7, 0.3], seed=42)
    clf = GBTClassifier(
        labelCol="label", featuresCol="features", maxIter=10, seed=42
    )
    model = build_pipeline(clf).fit(train)
    acc = MulticlassClassificationEvaluator(
        labelCol="label", predictionCol="prediction", metricName="accuracy"
    ).evaluate(model.transform(test))
    rows = [
        ("gbt_accuracy", round(acc, 6)),
        ("gbt_test_error", round(1.0 - acc, 6)),
        ("n_trees", float(model.stages[-1].getNumTrees)),
    ]
    return local_rows_df(spark, rows, "metric string, value double")


_ALS_TOPK = 3


# rows-only by design: ALS factor matrices are seeded but not
# SQL-reproducible; tests pin the output contract (exactly k
# recommendations per user, scores finite and non-increasing) and that
# recommendations reconstruct known preferences better than chance.
@REG.add("ml_als_recommend")
def ml_als_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALS collaborative filtering over the purchase matrix (customer ×
    part, implicit quantity preferences) — the recommender that the
    market-basket statistics (`basket_association_rules`) feed in
    production: rules give the global co-purchase priors, factorization
    personalizes them. Top-3 part recommendations per customer for a
    bounded customer subset.

    Scale shape: MLlib ALS is the canonical distributed factorization —
    users/items are block-partitioned, each alternating solve is a
    per-block least squares with only factor-block shuffles (never the
    ratings matrix); implicitPrefs uses the Hu-Koren-Volinsky confidence
    weighting. recommendForUserSubset bounds the serving fan-out."""
    from pyspark.ml.recommendation import ALS

    ratings = pin(
        _t(spark, sf_dir, "lineitem")
        .join(
            _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            F.col("o_custkey").cast("int").alias("user"),
            F.col("l_partkey").cast("int").alias("item"),
        )
        .agg(F.sum("l_quantity").cast("float").alias("rating"))
        # two consumers (the ALS fit and the user-subset distinct below)
        # otherwise each replay the lineitem⋈orders join + groupBy (r12)
    )
    als = ALS(
        rank=8,
        maxIter=5,
        seed=42,
        implicitPrefs=True,
        userCol="user",
        itemCol="item",
        ratingCol="rating",
        coldStartStrategy="drop",
    )
    model = als.fit(ratings)
    users = ratings.select("user").distinct().filter(F.col("user") < 100)
    recs = model.recommendForUserSubset(users, _ALS_TOPK)
    return recs.select(
        "user",
        F.posexplode("recommendations").alias("rk", "rec"),
    ).select(
        F.col("user").cast("long").alias("user"),
        (F.col("rk") + 1).cast("long").alias("rk"),
        F.col("rec.item").cast("long").alias("item"),
        F.round(F.col("rec.rating").cast("double"), 6).alias("score"),
    ).orderBy("user", "rk")


# ---------------------------------------------------------------------------
# Behavioral anomaly: per-user self-transition (bot) report
# ---------------------------------------------------------------------------

_BOT_TOPK = 20


@REG.add(
    "events_user_selfloop_report",
    sql=f"""
    WITH seq AS (
      SELECT user_id, event_type AS cur,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ), peru AS (
      SELECT user_id,
             COUNT(nxt) AS n_pairs,
             COUNT(CASE WHEN nxt = cur THEN 1 END) AS n_self
      FROM seq GROUP BY user_id HAVING COUNT(nxt) > 0
    )
    SELECT user_id, CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(n_self AS BIGINT) AS n_self,
           ROUND(CAST(n_self AS BIGINT) / CAST(n_pairs AS DOUBLE), 6)
             AS self_share
    FROM peru
    ORDER BY self_share DESC, user_id LIMIT {_BOT_TOPK}
    """,
)
def events_user_selfloop_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot-likeness report: the users whose event streams most repeat the
    SAME action back-to-back (self-transition share of their consecutive
    pairs) — scripted clients show degenerate self-loop rates where human
    sessions mix actions. The per-user counterpart of
    `events_markov_transitions`' global matrix; ranked top-{k} so the
    output is the triage list, not a threshold guess.

    Scale shape: one lead() window per user (the sequence-family shuffle),
    one per-user aggregate, TakeOrderedAndProject top-k; the ranking
    double is ONE int64/int64 division so the order is bitwise
    cross-engine (ties by user_id)."""
    w = ranked("ts", "event_id", partition_by="user_id")
    seq = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    peru = (
        seq.groupBy("user_id")
        .agg(
            F.count("nxt").alias("n_pairs"),
            F.count(F.when(F.col("nxt") == F.col("cur"), 1)).alias("n_self"),
        )
        .filter(F.col("n_pairs") > 0)
    )
    return (
        peru.select(
            "user_id",
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("n_self").cast("long").alias("n_self"),
            F.round(
                F.col("n_self") / F.col("n_pairs").cast("double"), 6
            ).alias("self_share"),
        )
        .orderBy(F.col("self_share").desc(), "user_id")
        .limit(_BOT_TOPK)
    )


# ---------------------------------------------------------------------------
# Cross-source near-duplicate matrix (contamination direction audit)
# ---------------------------------------------------------------------------


@REG.add(
    "dedup_cross_source_matrix",
    sql=f"""
    WITH toks AS (
      SELECT doc_id, source, list_distinct({TOKENS_SQL}) AS t FROM documents
    ), sized AS (
      SELECT doc_id, source, t, len(t) AS n FROM toks WHERE len(t) > 0
    ), rows_ AS (
      SELECT doc_id, unnest(t) AS tok FROM sized
    ), inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
      FROM rows_ a JOIN rows_ b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT sa.source AS src_a, sb.source AS src_b
      FROM inter i
      JOIN sized sa ON i.a_id = sa.doc_id
      JOIN sized sb ON i.b_id = sb.doc_id
      WHERE {_PF_DEN} * i.i >= {_PF_NUM} * (sa.n + sb.n - i.i)
    )
    SELECT LEAST(src_a, src_b) AS source_x,
           GREATEST(src_a, src_b) AS source_y,
           CAST(src_a = src_b AS BOOLEAN) AS within_source,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY 1, 2, 3 ORDER BY 1, 2
    """,
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE the near-duplicates live: the exact J≥0.95 pair census from
    `dedup_prefix_filter_pairs` aggregated into a source×source matrix —
    within-source counts measure internal redundancy, cross-source counts
    expose mirroring/contamination between ingestion feeds (the audit that
    decides which feed gets deduped against which). Reuses the SHIPPED
    prefix-filter core, so the matrix and the pair lane can never drift.

    Scale shape: the pair generation is the prefix-filter join (equi-joins
    only); source attribution is two equi-joins on doc_id; the matrix is a
    ≤|sources|²-row groupBy."""
    docs = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id", "source", F.array_distinct(tokens_col()).alias("toks")
        )
        .filter(F.size("toks") > 0)
    )
    pairs = prefix_filter_pairs_frame(docs.select("doc_id", "toks"))
    src = docs.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("a_id"), F.col("source").alias("src_a"))
    sb = src.select(F.col("doc_id").alias("b_id"), F.col("source").alias("src_b"))
    return (
        pairs.join(sa, "a_id")
        .join(sb, "b_id")
        .select(
            F.least("src_a", "src_b").alias("source_x"),
            F.greatest("src_a", "src_b").alias("source_y"),
            (F.col("src_a") == F.col("src_b")).alias("within_source"),
        )
        .groupBy("source_x", "source_y", "within_source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("source_x", "source_y")
    )
