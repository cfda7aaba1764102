"""Registered queries and their DuckDB oracle twins.

This module is the driver-facing inventory: every operator family from
SURVEY.md §2 (plus the north-star LLM-pipeline operators) mapped onto the
driver's star-schema testdata, each as a ``(spark, sf_dir) -> DataFrame``
callable with a semantically identical DuckDB SQL string.

Cross-engine determinism rules (see also operators.aggregates):

* double sums/avgs go through decimal(28,10) (order-independent);
* integer outputs are cast to BIGINT on both sides (DuckDB SUM/len widen
  to HUGEINT/BIGINT, Spark size() narrows to int — casts align them);
* per-row double arithmetic is written with IDENTICAL operation order in
  both engines (IEEE ops are deterministic; expression shape matters);
* transcendental results (haversine, cosine, ln) are rounded to six
  decimals with plain round(x, 6); RATIONAL ratios (counts over counts)
  use the portable floor-form rounding instead — see
  functions/rounding.py for why plain round diverges between engines at
  exact .5 boundaries (observed live at sf0.1);
* event timestamps are compared as exact integer micros/seconds
  (``ts_ns div 1000`` ≡ DuckDB ``epoch_us(ts)``), never as doubles;
* every ranking carries a unique tie-break column.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import KYIV_BBOX_NARROW, UKRAINE_BBOX
from .functions import text as TX
from .functions.geo import classify_region, in_bbox, speed_bucket
from .functions.gridsum import grid_sum, grid_sum_dec, grid_sum_over
from .functions.rounding import SQL_ROUND6, round6
from .operators import dedup as DD
from .operators import kmeans as KM
from .operators import sample as SAMPLE
from .operators import similarity as SIM
from .operators.aggregates import STABLE_DECIMAL, dec, stable_avg, stable_sum
from .operators.enrich import broadcast_enrich
from .operators.graph import PAGERANK_ITERS
from .operators.latest import dedup_exact, latest_per_key
from .operators.asof import asof_join
from .operators.logreg import LOGREG_ITERS, LOGREG_LR
from .operators.multimodal import attach_binary_payload, extract_media_features
from .operators.pivot import explode_parallel_arrays
from .operators.pq import PQ_K, PQ_M
from .operators.proximity import proximity_join
from .operators.topk import top_k
from .operators.trajectory import trajectory_speeds, value_rate
from .operators.windows import hopping_stats, moving_stats, sessionize, tumbling_stats
from .tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]


def _typed_empty(spark: SparkSession, schema: str) -> DataFrame:
    """Zero-row frame with a query's exact output schema — the graceful
    degenerate-input contract for the k-seeded collect operators (r08
    VERDICT #6): when the seed/probe collect finds nothing, the SQL
    oracles' LIMIT-k / CROSS JOIN shapes emit 0 rows, so the Spark side
    returns a typed empty frame instead of refusing."""
    return spark.createDataFrame([], schema)


# --------------------------------------------------------------------------
# SQL fragment helpers (DuckDB dialect)
# --------------------------------------------------------------------------

def _ssum(expr: str) -> str:
    """Order-independent double sum (decimal-stable).

    The decimal→double cast goes through VARCHAR: DuckDB's direct decimal→
    double cast divides int128 by 10^scale in floating point (two
    roundings, off by ulps), while the string parse — like Spark's
    BigDecimal.doubleValue() — is correctly rounded.
    """
    return f"CAST(CAST(SUM(CAST({expr} AS {STABLE_DECIMAL})) AS VARCHAR) AS DOUBLE)"


def _savg(expr: str, cnt: str) -> str:
    return f"{_ssum(expr)} / {cnt}"


def _sql_quantile_disc(
    src: str, quantiles: list[tuple[str, int, int]], n: str = "n"
) -> str:
    """SELECT body, the oracle twin of operators.rank.quantile_disc_slab:
    per group ``g`` of the relation ``src`` (columns ``g`` and ``v``),
    the row count ``n`` and, for each ``(alias, num, den)`` of
    ``quantiles``, the smallest ``v`` whose cumulative count reaches the
    integer rank (num·n + den − 1) // den = ⌈num·n/den⌉. NULL values of
    ``v`` count in neither ``n`` nor the cumulative count."""
    sels = "".join(
        f",\n       MIN(CASE WHEN cm >= ({num} * n + {den - 1}) // {den}"
        f" THEN v END) AS {alias}"
        for alias, num, den in quantiles
    )
    return f"""SELECT g, CAST(MAX(n) AS BIGINT) AS {n}{sels}
FROM (
  SELECT g, v, SUM(c) OVER (PARTITION BY g ORDER BY v ASC) AS cm,
         SUM(c) OVER (PARTITION BY g) AS n
  FROM (SELECT g, v, COUNT(v) AS c FROM {src} GROUP BY g, v)
)
GROUP BY g"""


_NORM = r"regexp_replace(lower(trim({c})), '\s+', ' ', 'g')"


def _norm(c: str) -> str:
    return _NORM.format(c=c)


#: DuckDB twin of the ``text`` column's token list
_TOKS = f"string_split({_norm('text')}, ' ')"


def _sql_term_counts(*keys: str) -> str:
    """The ``toks`` (keys…, term) and ``tf`` (keys…, term, tf) CTEs over
    ``documents``: the twin of :func:`_term_counts`."""
    k = "".join(f"{c}, " for c in keys)
    return f"""toks AS (SELECT {k}unnest({_TOKS}) AS term FROM documents),
tf AS (SELECT {k}term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY ALL)"""


#: ``toks`` (doc_id, i, term): each token of ``documents`` with its
#: 1-based position
_SQL_POS_TOKS = f"""toks AS (
  SELECT doc_id, generate_subscripts({_TOKS}, 1) AS i,
         unnest({_TOKS}) AS term
  FROM documents
)"""

#: ``toks`` plus ``tf`` (doc_id, a, b, tf): each adjacent token pair's
#: count per doc — the twin of :func:`_bigram_counts`
_SQL_BIGRAM_COUNTS = f"""{_SQL_POS_TOKS},
tf AS (
  SELECT t1.doc_id, t1.term AS a, t2.term AS b, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks t1 JOIN toks t2 ON t2.doc_id = t1.doc_id AND t2.i = t1.i + 1
  GROUP BY ALL
)"""


def _sql_mean_logprob(logp: str, n: str, alias: str) -> str:
    """SELECT over the CTE ``j`` (doc_id, tf, …): the twin of
    :func:`_mean_logprob`."""
    mean = SQL_ROUND6.format(x=f"{_ssum(f'tf * {logp}')} / SUM(tf)")
    return f"""SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS {n}, {mean} AS {alias}
FROM j GROUP BY doc_id"""


_PORTABLE_HASH = "CAST(concat('0x', substr(md5({s}), 1, 8)) AS BIGINT)"

#: word-3-gram distinct shingles of a token-list expression `t`
_SHINGLES = (
    "CASE WHEN len({t}) >= 3 THEN list_distinct(list_transform("
    "range(1, len({t}) - 1), i -> array_to_string(list_slice({t}, i, i + 2), ' ')))"
    " ELSE []::VARCHAR[] END"
)

_HAVERSINE = (
    "6371.0 * (2 * atan2(sqrt("
    "sin(radians({lat2} - {lat1}) / 2) * sin(radians({lat2} - {lat1}) / 2)"
    " + cos(radians({lat1})) * cos(radians({lat2}))"
    " * sin(radians({lon2} - {lon1}) / 2) * sin(radians({lon2} - {lon1}) / 2)"
    "), sqrt(1 - ("
    "sin(radians({lat2} - {lat1}) / 2) * sin(radians({lat2} - {lat1}) / 2)"
    " + cos(radians({lat1})) * cos(radians({lat2}))"
    " * sin(radians({lon2} - {lon1}) / 2) * sin(radians({lon2} - {lon1}) / 2)"
    "))))"
)

#: events with derived synthetic geo columns (SURVEY W1/F1/F8 mapped onto
#: the star schema: value → (lat, lon) inside the Kyiv poller bbox).
_GEO_POS_SQL = (
    "SELECT user_id, event_id, event_type, epoch_us(ts) // 1000000 AS ts_s, "
    "50.2 + (value % CAST(0.5 AS DOUBLE)) AS lat, "
    "30.2 + ((value * 1.6) % CAST(0.8 AS DOUBLE)) AS lon FROM events"
)


def _geo_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.expr("ts_us div 1000000").alias("ts_s"),
        (F.lit(50.2) + (F.col("value") % F.lit(0.5))).alias("lat"),
        (F.lit(30.2) + ((F.col("value") * F.lit(1.6)) % F.lit(0.8))).alias("lon"),
    )


_RATE_SQL_BODY = f"""
WITH lagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
         lag(epoch_us(ts)) OVER w AS prev_ts_us,
         lag(value) OVER w AS prev_value
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
rates AS (
  SELECT user_id, event_id, ts_us,
         CAST(ts_us - prev_ts_us AS DOUBLE) / 1000000.0 AS dt_s,
         {SQL_ROUND6.format(x='abs(value - prev_value) / (CAST(ts_us - prev_ts_us AS DOUBLE) / 1000000.0)')} AS rate
  FROM lagged
  WHERE prev_ts_us IS NOT NULL
    AND CAST(ts_us - prev_ts_us AS DOUBLE) / 1000000.0 > 0
    AND CAST(ts_us - prev_ts_us AS DOUBLE) / 1000000.0 <= 604800
)
"""


def _rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return value_rate(ev)


_GEO_SPEED_BODY = f"""
WITH pos AS ({_GEO_POS_SQL}),
filt AS (
  SELECT * FROM pos
  WHERE lat BETWEEN {KYIV_BBOX_NARROW.lat_min} AND {KYIV_BBOX_NARROW.lat_max}
    AND lon BETWEEN {KYIV_BBOX_NARROW.lon_min} AND {KYIV_BBOX_NARROW.lon_max}
),
lagged AS (
  SELECT *, lag(ts_s) OVER w AS prev_ts_s, lag(lat) OVER w AS prev_lat,
         lag(lon) OVER w AS prev_lon
  FROM filt
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)
),
speeds AS (
  SELECT user_id, event_id, event_type, ts_s - prev_ts_s AS dt_s,
         round({_HAVERSINE.format(lat1='prev_lat', lon1='prev_lon', lat2='lat', lon2='lon')} * 3600.0 / (ts_s - prev_ts_s), 6) AS speed_kmh
  FROM lagged
  WHERE prev_ts_s IS NOT NULL AND ts_s - prev_ts_s > 0
    AND ts_s - prev_ts_s <= 604800
)
"""


def _geo_speeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    pos = _geo_positions(spark, sf_dir).where(
        in_bbox(F.col("lat"), F.col("lon"), KYIV_BBOX_NARROW)
    )
    return trajectory_speeds(
        pos,
        key_col="user_id",
        ts_col="ts_s",
        max_gap_s=604800,
        tiebreak_cols=["event_id"],
        round_speed=6,
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same single-split story as _docs_with_tokens: the hyperplane/dot
    # folds are interpreted higher-order lambdas — spread them over the
    # cores before the per-row vector math.
    return load_table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )


def _docs_with_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-robin the corpus across all cores before the text queries:
    # the documents table is a single small parquet split locally, and
    # every downstream doc query grinds interpreted higher-order lambdas
    # (tokens/ngrams/list ops) per row — one partition means one core.
    # At real scale the table has many partitions and this keeps them
    # (repartition to the same default parallelism); the tiny shuffle of
    # raw text is far cheaper than the maps it balances.
    return load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )


def _doc_terms(docs: DataFrame, *keys: str | Column) -> DataFrame:
    """``(keys…, term)``: one row per token of each document's text."""
    return docs.select(*keys, F.explode(TX.tokens(F.col("text"))).alias("term"))


def _term_counts(docs: DataFrame, *keys: str) -> DataFrame:
    """``(keys…, term, tf)``: each term's count per key, or over the
    whole corpus when no key is given. Twin: :func:`_sql_term_counts`."""
    return (
        _doc_terms(docs, *keys)
        .groupBy(*keys, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _bigram_counts(docs: DataFrame) -> DataFrame:
    """``(doc_id, a, b, tf)``: each adjacent token pair's count per doc.
    The pairs come from zipping two slices of the token array, so there
    is no self-join; docs with fewer than two tokens have none. Twin:
    :data:`_SQL_BIGRAM_COUNTS`."""
    t = F.col("_t")
    pairs = F.arrays_zip(
        F.slice(t, 1, F.size(t) - 1).alias("a"),
        F.slice(t, 2, F.size(t) - 1).alias("b"),
    )
    return (
        docs.select("doc_id", TX.tokens(F.col("text")).alias("_t"))
        .where(F.size(t) >= 2)
        .select("doc_id", F.explode(pairs).alias("_p"))
        .select("doc_id", F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
        .groupBy("doc_id", "a", "b")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _mean_logprob(j: DataFrame, logp: Column, n: str, alias: str) -> DataFrame:
    """Per doc of ``j`` (doc_id, tf, …): the token count Σ tf as ``n``
    and the mean log-probability round6(Σ tf·logp / Σ tf) as ``alias``,
    the sum decimal-stable. Twin: :func:`_sql_mean_logprob`."""
    return j.groupBy("doc_id").agg(
        F.sum("tf").alias(n),
        round6(stable_sum(F.col("tf") * logp) / F.sum("tf")).alias(alias),
    )


def _sw_sql(words: tuple[str, ...]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


# --------------------------------------------------------------------------
# Query registry: name -> (callable, oracle_sql | None)
# --------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped grouped aggregation (SURVEY A2/A3): one hash
    aggregate with map-side partials; exact grid sums (r12 — the money
    columns are 2-dp by construction, so disc_price is a 4-dp and
    charge a 6-dp grid value; functions.gridsum replaces the per-row
    decimal casts that dominated the scan at a bit-identical result,
    re-proven by the unchanged decimal-formula oracle)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            grid_sum(F.col("l_quantity"), 0).alias("sum_qty"),
            grid_sum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            grid_sum(disc_price, 4).alias("sum_disc_price"),
            grid_sum(charge, 6).alias("sum_charge"),
            (grid_sum(F.col("l_quantity"), 0) / F.count("l_quantity")).alias("avg_qty"),
            (grid_sum(F.col("l_discount"), 2) / F.count("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING = f"""
SELECT l_returnflag, l_linestatus,
  {_ssum('l_quantity')} AS sum_qty,
  {_ssum('l_extendedprice')} AS sum_base_price,
  {_ssum('l_extendedprice * (1.0 - l_discount)')} AS sum_disc_price,
  {_ssum('l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)')} AS sum_charge,
  {_savg('l_quantity', 'COUNT(l_quantity)')} AS avg_qty,
  {_savg('l_discount', 'COUNT(l_discount)')} AS avg_disc,
  CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def q_top_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K by aggregate (SURVEY W3): TakeOrderedAndProject plan."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_partkey").agg(
        grid_sum(F.col("l_quantity"), 0).alias("total_qty"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    return top_k(agg, [F.col("total_qty").desc(), F.col("l_partkey").asc()], 10)


SQL_TOP_PARTS = f"""
SELECT l_partkey, {_ssum('l_quantity')} AS total_qty, CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem GROUP BY l_partkey
ORDER BY total_qty DESC, l_partkey ASC LIMIT 10
"""


def q_lineitem_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dimension enrichment (SURVEY J1/P9): fact table never
    shuffles; both dims ship to executors once."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    out = broadcast_enrich(li, part, [li.l_partkey == part.p_partkey])
    out = broadcast_enrich(out, supp, [li.l_suppkey == supp.s_suppkey])
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.coalesce(
            F.concat_ws(" ", "p_brand", "p_type"),
            F.concat(F.lit("#"), F.col("l_partkey").cast("string")),
        ).alias("part_label"),
        F.coalesce(
            F.col("s_name"), F.concat(F.lit("#"), F.col("l_suppkey").cast("string"))
        ).alias("supp_label"),
        F.round(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 4).alias(
            "revenue"
        ),
    )


SQL_ENRICHED = """
SELECT l_orderkey, l_linenumber,
  COALESCE(concat_ws(' ', p_brand, p_type), concat('#', CAST(l_partkey AS VARCHAR))) AS part_label,
  COALESCE(s_name, concat('#', CAST(l_suppkey AS VARCHAR))) AS supp_label,
  round(l_extendedprice * (1.0 - l_discount), 4) AS revenue
FROM lineitem
LEFT JOIN part ON l_partkey = p_partkey
LEFT JOIN supplier ON l_suppkey = s_suppkey
"""


def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-per-key via single max_by aggregate (SURVEY W2/J2)."""
    ev = load_table(spark, sf_dir, "events")
    return latest_per_key(
        ev,
        ["user_id"],
        ["ts_us", "event_id"],
        ["ts_us", "event_id", "event_type", "value"],
    )


SQL_LATEST = """
SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def q_event_value_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship lag-window trajectory shape on events (SURVEY W1)."""
    return _rates(spark, sf_dir).select("user_id", "event_id", "ts_us", "dt_s", "rate")


SQL_RATE = _RATE_SQL_BODY + "SELECT user_id, event_id, ts_us, dt_s, rate FROM rates"


def q_event_type_rate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group stats + HAVING gate (SURVEY A3/F7)."""
    rates = _rates(spark, sf_dir)
    return (
        rates.groupBy("event_type")
        .agg(
            stable_avg("rate").alias("avg_rate"),
            F.count(F.lit(1)).alias("samples"),
            F.countDistinct("user_id").alias("users"),
        )
        .where(F.col("samples") >= 10)
    )


SQL_RATE_STATS = _RATE_SQL_BODY + f"""
SELECT e.event_type,
  {_savg('rate', 'COUNT(rate)')} AS avg_rate,
  CAST(COUNT(*) AS BIGINT) AS samples,
  CAST(COUNT(DISTINCT r.user_id) AS BIGINT) AS users
FROM rates r JOIN events e ON r.event_id = e.event_id
GROUP BY e.event_type HAVING COUNT(*) >= 10
"""


def q_hourly_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling window (SURVEY ST1 generalization)."""
    ev = load_table(spark, sf_dir, "events")
    return tumbling_stats(ev)


SQL_HOURLY = f"""
SELECT epoch_us(date_trunc('hour', ts)) // 1000000 AS window_start_s, event_type,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  {_savg('value', 'COUNT(value)')} AS avg_value
FROM events GROUP BY 1, 2
"""


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (lag + running sum, SURVEY extension)."""
    ev = load_table(spark, sf_dir, "events")
    return sessionize(ev)


SQL_SESSIONS = """
WITH lagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_ts
  FROM events
),
flagged AS (
  SELECT *, CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > 1800000000 THEN 1 ELSE 0 END AS new_s
  FROM lagged
),
numbered AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       MIN(ts_us) // 1000000 AS session_start_s,
       MAX(ts_us) // 1000000 AS session_end_s,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM numbered GROUP BY user_id, session_seq
"""


def q_user_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in event-time session windows (``F.session_window``) — the
    engine-native mechanism next to q_user_sessions' lag+cumsum
    formulation; in streaming this same expression is a watermarked
    stateful operator for free. Boundary semantics differ from
    sessionize: session_window opens a NEW session when the gap is
    exactly 30 min (window end is exclusive), so the oracle mirrors
    ``>=`` rather than ``>``. One shuffle on (user, window) with
    map-side partials; decimal-stable value sum."""
    ev = load_table(spark, sf_dir, "events")
    grouped = ev.groupBy(
        "user_id",
        F.session_window(F.col("ts").cast("timestamp"), "30 minutes").alias("_w"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        grid_sum(F.col("value"), 2).alias("sum_value"),
    )
    return grouped.select(
        "user_id",
        F.unix_micros(F.col("_w.start")).alias("session_start_us"),
        F.unix_micros(F.col("_w.end")).alias("session_end_us"),
        "n_events",
        "sum_value",
    )


SQL_SESSION_WINDOWS = f"""
WITH lagged AS (
  SELECT user_id, value, epoch_us(ts) AS ts_us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS prev_ts
  FROM events
),
flagged AS (
  SELECT *, CASE WHEN prev_ts IS NULL OR ts_us - prev_ts >= 1800000000 THEN 1 ELSE 0 END AS new_s
  FROM lagged
),
numbered AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
)
SELECT user_id,
       MIN(ts_us) AS session_start_us,
       MAX(ts_us) + 1800000000 AS session_end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {_ssum('value')} AS sum_value
FROM numbered GROUP BY user_id, session_seq
"""


#: One week in epoch microseconds (cohort bucketing).
_WEEK_US = 7 * 86400 * 1_000_000


def q_event_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-activity week,
    share still active N weeks later — the standard product-analytics
    triangle. Week indices are exact integer division of epoch micros
    (``div`` — never float), retention is a portable-rounded rational.
    Shape: ONE events scan (r07 — integer div is monotonic, so the
    cohort week ``min(ts) div WEEK`` equals ``min(week)`` over the
    STAGED distinct (user, week) activity table; the un-staged
    two-aggregate form scanned events three times) + a broadcast-sized
    join on cohort week — every stage keyed and partial-aggregated,
    nothing quadratic."""
    from .operators.staging import stage

    ev = load_table(spark, sf_dir, "events")
    activity = (
        ev.select("user_id", F.expr(f"ts_us div {_WEEK_US}").alias("week"))
        .distinct()
        .transform(stage)
    )
    cohort = (
        activity.groupBy("user_id")
        .agg(F.min("week").alias("cohort_week"))
        .transform(stage)
    )
    sizes = cohort.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_users")
    )
    cells = (
        activity.join(cohort, "user_id")
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    )
    return cells.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "cohort_users",
        round6(F.col("n_active").cast("double") / F.col("cohort_users")).alias(
            "retention"
        ),
    )


SQL_EVENT_RETENTION = f"""
WITH first AS (
  SELECT user_id, MIN(epoch_us(ts)) // {_WEEK_US} AS cohort_week
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, epoch_us(ts) // {_WEEK_US} AS week FROM events
),
sizes AS (
  SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_users
  FROM first GROUP BY cohort_week
),
cells AS (
  SELECT f.cohort_week, a.week - f.cohort_week AS week_offset,
         CAST(COUNT(*) AS BIGINT) AS n_active
  FROM activity a JOIN first f USING (user_id)
  GROUP BY 1, 2
)
SELECT c.cohort_week, c.week_offset, c.n_active, s.cohort_users,
       {SQL_ROUND6.format(x='CAST(c.n_active AS DOUBLE) / s.cohort_users')} AS retention
FROM cells c JOIN sizes s USING (cohort_week)
"""


def q_moving_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding row-frame window (SURVEY §2.6 frame generalization): per
    user, trailing-5-row moving sum/avg of value plus running total.
    One shuffle + one in-partition sort serves all four window exprs."""
    ev = load_table(spark, sf_dir, "events")
    return moving_stats(ev)


def _sql_moving() -> str:
    mov = "ROWS BETWEEN 4 PRECEDING AND CURRENT ROW"
    run = "ROWS UNBOUNDED PRECEDING"
    ordr = "PARTITION BY user_id ORDER BY epoch_us(ts), event_id"
    wsum = (
        f"CAST(CAST(SUM(CAST(value AS {STABLE_DECIMAL})) OVER ({ordr} {{frame}})"
        " AS VARCHAR) AS DOUBLE)"
    )
    return f"""
SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
  {wsum.format(frame=mov)} AS mov_sum,
  {wsum.format(frame=mov)} / COUNT(*) OVER ({ordr} {mov}) AS mov_avg,
  {wsum.format(frame=run)} AS run_sum,
  CAST(row_number() OVER ({ordr}) AS BIGINT) AS seq
FROM events
"""


def q_approx_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-path per-type stats (SURVEY §4 item 4 / A3 scale variant),
    re-based (r11, VERDICT r10 "What's missing" #1) on the PORTABLE
    md5-register HLL (operators/hll.py) instead of Spark's native
    approx_count_distinct: the native HLL++ estimate is engine-defined
    sampling (permanently un-oracle-able), while the portable register
    table re-derives bit-for-bit in DuckDB SQL — the same twin
    discipline that gave user_hll_sketch a full oracle (r8).
    tests/test_approx.py pins the estimate's accuracy.

    Scale shape: two PRUNED fact scans — (event_type, user_id) for the
    register partials (map-side combined to ≤ |types|·64 rows) and
    (event_type, value) for the decimal-stable sum/count — then a
    broadcast join of the ≤ |types|-row estimate onto the base stats.
    Two narrow column-pruned scans beat caching the fact at 100 TB."""
    from .operators.hll import hll_estimate, hll_registers

    ev = load_table(spark, sf_dir, "events")
    regs = hll_registers(
        ev.select("event_type", F.col("user_id").cast("string").alias("_u"))
    )
    est = hll_estimate(regs).select(
        "event_type", F.col("est_distinct").alias("users_est")
    )
    base = ev.groupBy("event_type").agg(
        stable_avg("value").alias("avg_value"),
        F.count("value").alias("samples"),
    )
    return base.join(F.broadcast(est), "event_type").select(
        "event_type", "avg_value", "samples", "users_est"
    )


def _sql_hll_est() -> str:
    """CTEs ``r``, ``regs``, ``agg`` and ``est``, the DuckDB twin of
    operators/hll.py's ``hll_registers`` + ``hll_estimate`` over
    (event_type, user_id) of ``events``: ``est`` holds per event type
    ``zero_registers``, ``register_sum`` and the rounded estimate
    ``est``."""
    from .operators.hll import HLL_ALPHA, HLL_M, HLL_W_BITS

    two_w = 1 << (HLL_W_BITS + 1)  # 2^27, the rho-sum grid
    scale = repr(HLL_ALPHA * HLL_M * HLL_M * two_w)  # one shared literal
    h = _PORTABLE_HASH.format(s="CAST(user_id AS VARCHAR)")
    est = f"""CASE WHEN {scale} / register_sum <= {2.5 * HLL_M}
                   AND zero_registers > 0
              THEN {float(HLL_M)} * ln({float(HLL_M)} / zero_registers)
              ELSE {scale} / register_sum END"""
    return f"""r AS (
  SELECT event_type, {h} % {HLL_M} AS _reg,
         {HLL_W_BITS + 1} - length(ltrim(bin({h} // {HLL_M}), '0')) AS _rho
  FROM events
),
regs AS (SELECT event_type, _reg, MAX(_rho) AS _rho FROM r GROUP BY 1, 2),
agg AS (
  SELECT event_type,
         CAST({HLL_M} - COUNT(*) AS BIGINT) AS zero_registers,
         CAST(SUM(CAST(pow(2.0, {HLL_W_BITS + 1} - _rho) AS BIGINT))
              + ({HLL_M} - COUNT(*)) * {two_w} AS BIGINT) AS register_sum
  FROM regs GROUP BY 1
),
est AS (SELECT *, {SQL_ROUND6.format(x=est)} AS est FROM agg)"""


SQL_APPROX_EVENT_STATS = f"""
WITH {_sql_hll_est()},
base AS (
  SELECT event_type, {_savg('value', 'COUNT(value)')} AS avg_value,
         CAST(COUNT(value) AS BIGINT) AS samples
  FROM events GROUP BY 1
)
SELECT base.event_type, base.avg_value, base.samples, est.est AS users_est
FROM base JOIN est USING (event_type)
"""


def q_event_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction (SURVEY §2.2 json surface): parse the
    events.props JSON string with a TYPED from_json schema — schema'd
    parse stays in codegen and prunes to the one referenced field,
    unlike per-row get_json_object string probing — then aggregate the
    extracted field per event type."""
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k BIGINT")["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.count_if(F.col("k") >= 50).alias("n_high"),
        )
    )


SQL_PROPS = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(props ->> 'k' AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(props ->> 'k' AS BIGINT)) AS min_k,
       MAX(CAST(props ->> 'k' AS BIGINT)) AS max_k,
       CAST(count_if(CAST(props ->> 'k' AS BIGINT) >= 50) AS BIGINT) AS n_high
FROM events GROUP BY event_type
"""


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def q_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot reshape: per user-cohort counts with one column per event
    type. The pivot value list is pinned (never inferred) — inference
    costs an extra distinct scan and makes the output schema
    data-dependent, which breaks both streaming reuse and the fixed-
    schema contract a 100 TB pipeline wants."""
    ev = load_table(spark, sf_dir, "events")
    p = (
        ev.withColumn("cohort", F.pmod(F.col("user_id"), F.lit(10)).cast("long"))
        .groupBy("cohort")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "cohort",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in EVENT_TYPES],
    )


SQL_PIVOT = "SELECT user_id % 10 AS cohort, " + ", ".join(
    f"CAST(count(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS {t}"
    for t in EVENT_TYPES
) + " FROM events GROUP BY 1"


def q_value_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE-cascade bucketing + counts (SURVEY P10/A7)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("bucket", speed_bucket(F.col("value")))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            stable_avg("value").alias("avg_value"),
        )
    )


SQL_BUCKETS = f"""
SELECT CASE WHEN value < 10 THEN 'lt10' WHEN value < 20 THEN 'lt20'
            WHEN value < 30 THEN 'lt30' WHEN value < 40 THEN 'lt40'
            ELSE 'ge40' END AS bucket,
  CAST(COUNT(*) AS BIGINT) AS n,
  {_savg('value', 'COUNT(value)')} AS avg_value
FROM events GROUP BY 1
"""


def q_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming TTL dedup (SURVEY ST3): deterministic
    survivor = min event_id per (user_id, ts)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts_us", "event_id", "event_type", "value"
    )
    return dedup_exact(ev)


SQL_DEDUP_EVENTS = """
SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id, epoch_us(ts) ORDER BY event_id) AS rn
  FROM events
) WHERE rn = 1
"""


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dim broadcast join + top-K revenue (SURVEY J1+W3)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    joined = broadcast_enrich(
        broadcast_enrich(o, c, [o.o_custkey == c.c_custkey], how="inner"),
        n,
        [c.c_nationkey == n.n_nationkey],
        how="inner",
    )
    agg = joined.groupBy("c_custkey", "c_name", "n_name").agg(
        grid_sum(F.col("o_totalprice"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return top_k(agg, [F.col("revenue").desc(), F.col("c_custkey").asc()], 10)


SQL_TOP_CUSTOMERS = f"""
SELECT c_custkey, c_name, n_name, {_ssum('o_totalprice')} AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC LIMIT 10
"""


def q_global_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global one-row summary (SURVEY A2)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.lit(1)).alias("samples"),
        F.countDistinct("user_id").alias("entities"),
        stable_avg("value").alias("avg_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


SQL_GLOBAL_STATS = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS samples,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS entities,
  {_savg('value', 'COUNT(value)')} AS avg_value,
  MIN(value) AS min_value, MAX(value) AS max_value
FROM events
"""


def q_geo_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference flagship W1 on synthetic geo: bbox filter → lag window →
    haversine speed → plausibility guards (F1/F5/F6 + P11)."""
    return _geo_speeds(spark, sf_dir).select(
        "user_id", "event_id", "dt_s", "speed_kmh"
    )


SQL_GEO_TRAJ = _GEO_SPEED_BODY + """
SELECT user_id, event_id, CAST(dt_s AS BIGINT) AS dt_s, speed_kmh
FROM speeds WHERE speed_kmh > 0 AND speed_kmh < 120
"""


def q_geo_speed_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-'route' speed stats with min-samples gate (A3 + F7 on geo)."""
    sp = _geo_speeds(spark, sf_dir)
    return (
        sp.groupBy("event_type")
        .agg(
            stable_avg("speed_kmh").alias("avg_speed"),
            F.count(F.lit(1)).alias("samples"),
            F.countDistinct("user_id").alias("vehicles"),
        )
        .where(F.col("samples") >= 10)
    )


SQL_GEO_SPEED_STATS = _GEO_SPEED_BODY + f"""
SELECT event_type, {_savg('speed_kmh', 'COUNT(speed_kmh)')} AS avg_speed,
  CAST(COUNT(*) AS BIGINT) AS samples,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS vehicles
FROM speeds WHERE speed_kmh > 0 AND speed_kmh < 120
GROUP BY event_type HAVING COUNT(*) >= 10
"""


def q_geo_region_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region classification cascade + counts (SURVEY F8/A7)."""
    pos = _geo_positions(spark, sf_dir)
    return (
        pos.withColumn("region", classify_region(F.col("lat"), F.col("lon")))
        .groupBy("region")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_GEO_REGIONS = f"""
WITH pos AS ({_GEO_POS_SQL})
SELECT CASE
  WHEN lat BETWEEN {KYIV_BBOX_NARROW.lat_min} AND {KYIV_BBOX_NARROW.lat_max}
   AND lon BETWEEN {KYIV_BBOX_NARROW.lon_min} AND {KYIV_BBOX_NARROW.lon_max} THEN 'kyiv'
  WHEN lat BETWEEN {UKRAINE_BBOX.lat_min} AND {UKRAINE_BBOX.lat_max}
   AND lon BETWEEN {UKRAINE_BBOX.lon_min} AND {UKRAINE_BBOX.lon_max} THEN 'ukraine'
  ELSE 'other' END AS region,
  CAST(COUNT(*) AS BIGINT) AS n
FROM pos GROUP BY 1
"""


def q_orders_without_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (completeness beyond the reference's two joins)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return o.join(
        li.select(F.col("l_orderkey").alias("o_orderkey")), "o_orderkey", "left_anti"
    ).select("o_orderkey", "o_custkey", "o_orderstatus")


SQL_ANTI = """
SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
"""


def q_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(
        o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


SQL_SEMI = """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_event_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-distinct of two filtered scans (SURVEY U1/U2)."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    high = ev.where(F.col("event_type") == "purchase")
    err = ev.where(F.col("event_type") == "error")
    return high.unionByName(err).distinct()


SQL_UNION = """
SELECT event_id, user_id, event_type FROM events WHERE event_type = 'purchase'
UNION
SELECT event_id, user_id, event_type FROM events WHERE event_type = 'error'
"""


def q_events_asof_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (SURVEY §7.3 extension): for each click, the most recent
    error of the same user at or before it — union-sort-fill shape, one
    shuffle, no row expansion (operators.asof)."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_us", "value"
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts_us", "value"
    )
    joined = asof_join(clicks, errors)
    return joined.select(
        "event_id",
        "user_id",
        "ts_us",
        "value",
        F.col("asof_ts_us").alias("err_ts_us"),
        F.col("asof_event_id").alias("err_event_id"),
        F.col("asof_value").alias("err_value"),
    )


SQL_ASOF = """
WITH clicks AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
  FROM events WHERE event_type = 'click'
),
errors0 AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
  FROM events WHERE event_type = 'error'
),
errors AS (
  SELECT * FROM errors0
  QUALIFY row_number() OVER (PARTITION BY user_id, ts_us ORDER BY event_id DESC) = 1
)
SELECT c.event_id, c.user_id, c.ts_us, c.value,
       e.ts_us AS err_ts_us, e.event_id AS err_event_id, e.value AS err_value
FROM clicks c ASOF LEFT JOIN errors e
  ON c.user_id = e.user_id AND e.ts_us <= c.ts_us
"""


def q_geo_nearby_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo-proximity range join (SURVEY §7.3 extension): every event within
    1 km of each probe event. Grid-cell blocking (operators.proximity)
    turns the cross range-join into a co-partitioned equi-join; cell_deg
    0.02 > 1 km in lon-degrees at 50.7N, so blocking is lossless and the
    oracle states the plain distance join."""
    from .operators.staging import stage

    # STAGED (r12): the projected position table feeds BOTH join sides
    # (probes are a 1/200 filter of it) — un-staged, Catalyst re-derived
    # the events scan + lat/lon projection once per side (4 scans in the
    # before plan). One fact pass; the staged frame carries only
    # (event_id, lat, lon).
    pos = (
        _geo_positions(spark, sf_dir)
        .select("event_id", "lat", "lon")
        .transform(stage)
    )
    probes = pos.where(F.col("event_id") % 200 == 0)
    corpus = pos
    joined = proximity_join(probes, corpus)
    return (
        joined.where(F.col("p_event_id") != F.col("e_event_id"))
        .select(
            F.col("p_event_id").alias("probe_id"),
            F.col("e_event_id").alias("event_id"),
            F.round(F.col("dist_km"), 6).alias("dist_km"),
        )
    )


_GEO_NEARBY_DIST = _HAVERSINE.format(
    lat1="p.lat", lon1="p.lon", lat2="e.lat", lon2="e.lon"
)

SQL_GEO_NEARBY = f"""
WITH pos AS ({_GEO_POS_SQL}),
probes AS (SELECT event_id, lat, lon FROM pos WHERE event_id % 200 = 0),
pairs AS (
  SELECT p.event_id AS probe_id, e.event_id AS event_id,
         {_GEO_NEARBY_DIST} AS dist
  FROM probes p JOIN pos e ON e.event_id != p.event_id
)
SELECT probe_id, event_id, round(dist, 6) AS dist_km FROM pairs WHERE dist <= 1.0
"""


def q_emb_cosine_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (north-star dedup op #5): banded
    hyperplane-LSH blocking (band bit-width scaled to corpus size so
    bucket population stays bounded) + exact cosine >= NEARDUP_THRESHOLD
    verification (operators.similarity.cosine_neardup_pairs)."""
    # width from the RAW table's count (parquet-footer metadata job);
    # counting the repartitioned frame would execute the full round-robin
    # shuffle just to learn n
    n = load_table(spark, sf_dir, "embeddings").count()
    return SIM.cosine_neardup_pairs(_emb(spark, sf_dir), SIM.neardup_rows_per_band(n))


def _sql_lsh_bucket_prefix() -> str:
    """Shared CTE prefix (params/ce/pl/proj/buckets): the adaptive-width
    banded hyperplane bucketing of cosine_neardup_pairs reproduced in
    SQL — params = neardup_rows_per_band's clamp(ceil(log2(n/target))),
    per-band plane seeds ("rp_b{b}") emitted at MAX width (each band's
    plane list is a stable prefix, so the w-bit key is the first w
    planes). Used by both the near-dup oracle and the index-stats
    oracle."""
    from .functions.vector import plane_coefficients

    vals = ", ".join(
        f"({b}, {p}, {i + 1}, {c!r})"
        for b in range(SIM.NEARDUP_BANDS)
        for p, coeffs in enumerate(
            plane_coefficients(SIM.NEARDUP_MAX_ROWS, seed=f"rp_b{b}")
        )
        for i, c in enumerate(coeffs)
    )
    return f"""
WITH params AS (
  SELECT GREATEST({SIM.NEARDUP_MIN_ROWS}, LEAST({SIM.NEARDUP_MAX_ROWS},
           CASE WHEN COUNT(*) <= {SIM.NEARDUP_TARGET_BUCKET} THEN {SIM.NEARDUP_MIN_ROWS}
                ELSE CAST(CEIL(LOG2(COUNT(*) / {SIM.NEARDUP_TARGET_BUCKET}.0)) AS INT)
           END)) AS w
  FROM embeddings
),
ce AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS y
  FROM embeddings
),
pl(band, p, i, c) AS (VALUES {vals}),
proj AS (
  SELECT vec_id, band, p, SUM(CAST(y * c AS {STABLE_DECIMAL})) AS s
  FROM ce JOIN pl USING (i)
  WHERE p < (SELECT w FROM params)
  GROUP BY 1, 2, 3
),
buckets AS (
  SELECT vec_id, band,
         string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bkey
  FROM proj GROUP BY vec_id, band
)"""


def _sql_emb_neardups() -> str:
    """Oracle twin of cosine_neardup_pairs (bucket prefix +
    candidate/verify tail)."""
    return f"""{_sql_lsh_bucket_prefix()},
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
),
norms AS (SELECT vec_id, SUM(y * y) AS n2 FROM ce GROUP BY 1),
dots AS (
  SELECT c.id_a, c.id_b, SUM(xa.y * xb.y) AS d
  FROM cand c
  JOIN ce xa ON xa.vec_id = c.id_a
  JOIN ce xb ON xb.vec_id = c.id_b AND xb.i = xa.i
  GROUP BY 1, 2
),
cos AS (
  SELECT id_a, id_b,
         CASE WHEN sqrt(na.n2) * sqrt(nb.n2) = 0 THEN 0.0
              ELSE d / (sqrt(na.n2) * sqrt(nb.n2)) END AS sim
  FROM dots JOIN norms na ON na.vec_id = id_a JOIN norms nb ON nb.vec_id = id_b
)
SELECT id_a, id_b, round(sim, 6) AS cosine_sim FROM cos WHERE sim >= {SIM.NEARDUP_THRESHOLD}
"""


def q_sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical revenue rollup region -> nation -> grand total
    (grouping-sets coverage; broadcast dims, decimal-stable sum)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    reg = load_table(spark, sf_dir, "region")
    j = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    )
    # Two-phase rollup (same partial-reaggregation trick as q_sales_cube):
    # collapse the joined facts to per-(region, nation) partials first, so
    # the rollup's 3x Expand multiplies 25 nation rows, not every order.
    base = j.groupBy("r_name", "n_name").agg(
        # exact 2-dp grid sum (r12) — bit-identical to the decimal cast
        grid_sum_dec(F.col("o_totalprice"), 2).alias("_rev"),
        F.count(F.lit(1)).alias("_n"),
    )
    return base.rollup("r_name", "n_name").agg(
        F.sum("_rev").cast("double").alias("revenue"),
        F.sum("_n").alias("n_orders"),
    )


# NB (here and in SQL_CUBE / SQL_DOC_DATA_CARD): the HAVING guard only
# matters for EMPTY input — the SQL standard's ROLLUP/CUBE emit a
# count-0 grand-total row over zero rows, while Spark's rollup()/cube()
# emit nothing; the guard pins the oracle to engine behavior so the
# empty-corpus differential (tests/test_empty_inputs.py) holds. On any
# non-empty input every emitted group has COUNT >= 1 and the guard is
# a no-op.
SQL_ROLLUP = f"""
SELECT r_name, n_name, {_ssum('o_totalprice')} AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
HAVING COUNT(*) > 0
"""


def q_salted_supplier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient salted join (SURVEY §7.4 hot-key posture): lineitem
    facts salted across 8 buckets, supplier dim replicated 8x, then
    per-nation revenue. Result is byte-identical to the unsalted join —
    the oracle proves exactly that."""
    from .operators.enrich import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_extendedprice"
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    j = salted_join(li, sup)
    return j.groupBy("s_nationkey").agg(
        stable_sum("l_extendedprice").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


SQL_SALTED = f"""
SELECT s_nationkey, {_ssum('l_extendedprice')} AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_nationkey
"""


def q_top_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k (SURVEY W3/W4 generalized from global to grouped):
    3 highest-value orders per order priority. One shuffle on the group
    key; rank window with a unique tiebreak so results are total-ordered."""
    from .operators.topk import top_k_per_group

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    return top_k_per_group(
        o,
        ["o_orderpriority"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        k=3,
    )


SQL_TOP_PER_GROUP = """
SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn <= 3
"""


def q_sales_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (returnflag, linestatus) with grouping_id — the
    grouping-sets completion of q_sales_rollup. One Expand + one hash
    aggregate; partials combine map-side so the 4x row expansion never
    crosses the shuffle un-aggregated."""
    li = load_table(spark, sf_dir, "lineitem")
    # Two-phase cube: aggregate to the finest grouping FIRST (600k rows →
    # a handful of base groups), then cube the partials. Decimal sums are
    # associative, so re-aggregating partials is EXACT — and the 4x Expand
    # multiplies a few base rows instead of every fact row. At 100 TB this
    # is the difference between expanding the fact table and expanding a
    # kilobyte of partials; same trick generalizes to any rollup/cube over
    # algebraic aggregates.
    # exact grid sums (r12, functions.gridsum): quantity is integral and
    # extendedprice a 2-dp grid column, so the int64 split-sum equals
    # the old decimal cast-sum bit-for-bit without the per-row cast
    base = li.groupBy("l_returnflag", "l_linestatus").agg(
        grid_sum_dec(F.col("l_quantity"), 0).alias("_q"),
        grid_sum_dec(F.col("l_extendedprice"), 2).alias("_p"),
        F.count(F.lit(1)).alias("_n"),
    )
    return (
        base.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.sum("_q").cast("double").alias("sum_qty"),
            F.sum("_p").cast("double").alias("sum_price"),
            F.sum("_n").alias("n_items"),
        )
        .select("gid", "l_returnflag", "l_linestatus", "sum_qty", "sum_price", "n_items")
    )


SQL_CUBE = f"""
SELECT CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       l_returnflag, l_linestatus,
       {_ssum('l_quantity')} AS sum_qty,
       {_ssum('l_extendedprice')} AS sum_price,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
HAVING COUNT(*) > 0
"""


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of event value per type (order
    statistics — the reference has only avg/min/max; p50/p90/p99 are the
    latency-style stats any monitoring query layer needs). Exact
    percentile needs the full value multiset per group — fine when groups
    are few and wide; the rank sketch (operators.qsketch) is the sketch
    path when they aren't."""
    ev = load_table(spark, sf_dir, "events")
    pct = F.percentile("value", F.lit([0.25, 0.5, 0.9, 0.99]))
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            pct.alias("_p"),
        )
        .select(
            "event_type",
            "n",
            F.round(F.element_at("_p", 1), 6).alias("p25"),
            F.round(F.element_at("_p", 2), 6).alias("p50"),
            F.round(F.element_at("_p", 3), 6).alias("p90"),
            F.round(F.element_at("_p", 4), 6).alias("p99"),
        )
    )


SQL_PERCENTILES = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       round(quantile_cont(value, 0.25), 6) AS p25,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# Text-analysis / LLM-pipeline queries (documents table)
# --------------------------------------------------------------------------

def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc text analysis: tokens, ratios, quality, fingerprint, lang-ID."""
    d = _docs_with_tokens(spark, sf_dir)
    # materialize tokens/normalized text once; the dozen expressions below
    # reference them repeatedly and higher-order exprs get no CSE
    staged = d.select(
        "doc_id",
        "lang",
        "text",
        TX.tokens(F.col("text")).alias("_tok"),
        TX.normalize_text(F.col("text")).alias("_norm"),
    )
    return staged.select(
        "doc_id",
        "lang",
        F.size("_tok").cast("long").alias("n_tokens"),
        F.length("_norm").cast("long").alias("n_chars_norm"),
        round6(TX.alpha_ratio(F.col("text"))).alias("alpha_ratio"),
        round6(TX.punct_ratio(F.col("text"))).alias("punct_ratio"),
        TX.quality_score(F.col("text"), tok=F.col("_tok")).alias("quality"),
        F.md5("_norm").alias("fp"),
        TX.lang_id(F.col("_tok")).alias("pred_lang"),
    )


def _sql_doc_stats() -> str:
    alpha = "(CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) END)"
    punct = "(CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) / length(text) END)"
    return f"""
WITH toks AS (SELECT *, {_TOKS} AS t FROM documents)
SELECT doc_id, lang,
  CAST(len(t) AS BIGINT) AS n_tokens,
  CAST(length({_norm('text')}) AS BIGINT) AS n_chars_norm,
  {SQL_ROUND6.format(x=alpha)} AS alpha_ratio,
  {SQL_ROUND6.format(x=punct)} AS punct_ratio,
  {_sql_quality_expr()} AS quality,
  md5({_norm('text')}) AS fp,
  {_sql_lang_id_case()} AS pred_lang
FROM toks
"""


def _sql_lang_id_case() -> str:
    """DuckDB twin of functions.text.lang_id over a token list ``t``."""
    scores = {
        lang: f"len(list_distinct(list_intersect(t, {_sw_sql(words)})))"
        for lang, words in TX.LANG_STOPWORDS.items()
    }
    best = "greatest(" + ", ".join(scores.values()) + ")"
    cases = " ".join(
        f"WHEN {scores[lang]} > 0 AND {scores[lang]} = {best} THEN '{lang}'"
        for lang in TX.LANG_STOPWORDS
    )
    return f"CASE {cases} ELSE 'und' END"


def q_doc_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-eval view of the lang-ID heuristic: the (labeled lang
    × predicted lang) confusion matrix with per-label recall shares —
    the table that says which languages the n-gram detector confuses
    before anyone trusts its corpus routing. ONE hash aggregate; the
    per-label totals come from a WINDOW over the ≤|langs|²-row cell
    table (the aggregate-join form re-derived the lang-ID regex chain
    over the whole corpus twice — r07 single-scan fix)."""
    from pyspark.sql import Window

    d = _docs_with_tokens(spark, sf_dir)
    staged = d.select(
        "lang", TX.lang_id(TX.tokens(F.col("text"))).alias("pred_lang")
    )
    cells = staged.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tot = F.sum("n_docs").over(Window.partitionBy("lang"))
    return cells.select(
        "lang",
        "pred_lang",
        "n_docs",
        round6(
            F.col("n_docs").cast("double") / tot.cast("double")
        ).alias("share"),
    )


def _sql_langid_confusion() -> str:
    return f"""
WITH toks AS (SELECT lang, {_TOKS} AS t FROM documents),
pred AS (SELECT lang, {_sql_lang_id_case()} AS pred_lang FROM toks),
cells AS (
  SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM pred GROUP BY 1, 2
),
tot AS (SELECT lang, SUM(n_docs) AS t FROM cells GROUP BY lang)
SELECT cells.lang, pred_lang, n_docs,
       {SQL_ROUND6.format(x="CAST(n_docs AS DOUBLE) / CAST(t AS DOUBLE)")} AS share
FROM cells JOIN tot ON cells.lang = tot.lang
"""


def q_event_anomaly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monitoring-style anomaly profile: per event type, how many events
    sit ≥ 3 sample standard deviations from the type mean, and the most
    extreme |z|. The stats pass is one 5-row aggregate with DECIMAL-
    stable sum/sum-of-squares (variance from the explicit
    (Σx² − (Σx)²/n)/(n−1) form — NOT the engines' differing one-pass
    stddev implementations, so both sides compute identical doubles);
    the stats ride a broadcast back onto the stream for a map-only
    z-score."""
    ev = load_table(spark, sf_dir, "events")
    # value is a 2-dp grid column, so value**2 sits on the 4-dp grid:
    # exact int64 grid sums (r12, functions.gridsum), bit-identical to
    # the old decimal casts
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("_n"),
        grid_sum(F.col("value"), 2).alias("_s"),
        grid_sum(F.col("value") * F.col("value"), 4).alias("_s2"),
    )
    # greatest(0, ·): with an all-equal group the double-arithmetic
    # variance can land at -1e-18 — DuckDB's sqrt RAISES on negatives
    # and Spark's returns NaN (which would count every row anomalous);
    # clamping makes both engines yield std=0 → z=NULL → 0 anomalies.
    var = F.greatest(
        F.lit(0.0),
        (F.col("_s2") - F.col("_s") * F.col("_s") / F.col("_n"))
        / (F.col("_n") - 1),
    )
    stats = stats.select(
        "event_type",
        "_n",
        (F.col("_s") / F.col("_n")).alias("_mean"),
        F.sqrt(var).alias("_std"),
    )
    z = (F.col("value") - F.col("_mean")) / F.col("_std")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .select("event_type", F.abs(z).alias("_az"))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("_az") >= 3.0, 1).otherwise(0))
            .cast("long")
            .alias("n_anomalies"),
            round6(F.max("_az")).alias("max_abs_z"),
        )
    )


SQL_EVENT_ANOMALY = f"""
WITH stats AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         {_ssum('value')} AS s, {_ssum('value * value')} AS s2
  FROM events GROUP BY event_type
),
st AS (
  SELECT event_type, n, s / n AS mean,
         sqrt(greatest(0.0, (s2 - s * s / n) / (n - 1))) AS std
  FROM stats
),
z AS (
  SELECT events.event_type, abs((value - mean) / std) AS az
  FROM events JOIN st ON events.event_type = st.event_type
)
SELECT event_type,
       CAST(SUM(CASE WHEN az >= 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
       {SQL_ROUND6.format(x="MAX(az)")} AS max_abs_z
FROM z GROUP BY event_type
"""


def q_doc_lang_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting rolled up by language (corpus budgeting)."""
    d = _docs_with_tokens(spark, sf_dir)
    nt = TX.token_count(F.col("text")).cast("long")
    return (
        d.select("lang", nt.alias("n_tokens"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            # integer token counts: exact grid sum at dp 0 (r12)
            (
                grid_sum(F.col("n_tokens").cast("double"), 0)
                / F.count("n_tokens")
            ).alias("avg_tokens"),
        )
    )


SQL_LANG_TOKENS = f"""
WITH toks AS (SELECT lang, len({_TOKS}) AS n_tokens FROM documents)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
  {_savg('n_tokens', 'COUNT(n_tokens)')} AS avg_tokens
FROM toks GROUP BY lang
"""


def q_doc_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: fingerprint hash-groupBy (north-star op #1)."""
    return DD.exact_duplicates(_docs_with_tokens(spark, sf_dir))


SQL_EXACT_DUPS = f"""
SELECT md5({_norm('text')}) AS fp, MIN(doc_id) AS rep_id,
       CAST(COUNT(*) AS BIGINT) AS copies
FROM documents GROUP BY 1
"""

def q_ngram_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard: stop-shingle-capped
    candidate generation (df ≤ DD.NGRAM_MAX_DOC_FREQ) + exact
    verification over the full shingle sets — the skew-safe two-phase
    shape. Pairs overlapping EXCLUSIVELY in above-cap boilerplate are
    the documented recall cost; identical docs are still always caught
    by doc_exact_dups (pinned in tests/test_dedup_pairs.py)."""
    return DD.ngram_jaccard_pairs(_docs_with_tokens(spark, sf_dir))


# Mirrors the skew-safe Spark shape: the pair join runs only over rare
# shingles (df ≤ cap) and counts n_rare directly; exactness is restored
# by hot-shingle completion (n_inter = n_rare + |hot_A ∩ hot_B| from tiny
# per-doc arrays), so any pair sharing ≥1 rare shingle scores its exact
# full-set Jaccard.
SQL_NGRAM_NEARDUPS = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
grams AS (SELECT doc_id, unnest({_SHINGLES.format(t='t')}) AS g FROM toks),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM grams GROUP BY doc_id),
dfreq AS (SELECT g, COUNT(*) AS df FROM grams GROUP BY g),
pr AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_rare
  FROM grams a
  JOIN dfreq d ON d.g = a.g AND d.df <= {DD.NGRAM_MAX_DOC_FREQ}
  JOIN grams b ON b.g = a.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
hot AS (
  SELECT doc_id, list(a.g ORDER BY a.g) AS harr
  FROM grams a JOIN dfreq d ON d.g = a.g AND d.df > {DD.NGRAM_MAX_DOC_FREQ}
  GROUP BY doc_id
),
j AS (
  SELECT id_a, id_b,
         n_rare + len(list_intersect(coalesce(ha.harr, []), coalesce(hb.harr, []))) AS n_inter,
         sa.n AS n_a, sb.n AS n_b
  FROM pr
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  LEFT JOIN hot ha ON ha.doc_id = id_a
  LEFT JOIN hot hb ON hb.doc_id = id_b
),
jac AS (
  SELECT id_a, id_b,
         {SQL_ROUND6.format(x='CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter)')} AS jaccard
  FROM j
)
SELECT * FROM jac WHERE jaccard >= {DD.NEARDUP_JACCARD}
"""


def _sql_minhash_sig() -> str:
    mins = ",\n   ".join(
        f"MIN(({a} * h + {b}) % {DD.MINHASH_PRIME}) AS mh_{i}"
        for i, (a, b) in ((j, DD.perm_coeffs(j)) for j in range(DD.NUM_PERM))
    )
    return f"""
toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
grams AS (SELECT doc_id, unnest({_SHINGLES.format(t='t')}) AS g FROM toks),
hashed AS (SELECT doc_id, {_PORTABLE_HASH.format(s='g')} AS h FROM grams),
sig AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id)
"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width MinHash signatures (scale path for near-dedup)."""
    return DD.minhash_signatures(DD.shingle_ids(_docs_with_tokens(spark, sf_dir)))


SQL_MINHASH_SIG = "WITH " + _sql_minhash_sig() + "SELECT * FROM sig"


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH candidates + exact verification."""
    return DD.minhash_lsh_pairs(_docs_with_tokens(spark, sf_dir))


def _sql_minhash_lsh() -> str:
    bands = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band, md5(concat_ws(',', {cols})) AS bh FROM sig".format(
            b=b,
            cols=", ".join(f"mh_{b * DD.LSH_ROWS + r}" for r in range(DD.LSH_ROWS)),
        )
        for b in range(DD.LSH_BANDS)
    )
    return (
        "WITH "
        + _sql_minhash_sig()
        + f""",
buckets AS ({bands}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT id_a, id_b, {SQL_ROUND6.format(x='CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter)')} AS jaccard
  FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
)
SELECT c.id_a, c.id_b, j.jaccard FROM cand c JOIN jac j ON c.id_a = j.id_a AND c.id_b = j.id_b
WHERE j.jaccard >= {DD.NEARDUP_JACCARD}
"""
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per doc (integer math end-to-end)."""
    return DD.simhash(_docs_with_tokens(spark, sf_dir))


SQL_SIMHASH = f"""
WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS tokn FROM documents),
hashed AS (SELECT doc_id, {_PORTABLE_HASH.format(s='tokn')} AS h FROM toks),
bits AS (SELECT unnest(range(0, 32)) AS bit),
contrib AS (
  SELECT doc_id, bit, CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END AS w
  FROM hashed CROSS JOIN bits
),
persum AS (SELECT doc_id, bit, SUM(w) AS s FROM contrib GROUP BY 1, 2)
SELECT doc_id,
  CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
FROM persum GROUP BY doc_id
"""


def q_simhash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: band-blocked hamming join (lossless for
    hamming ≤ 3 by pigeonhole over 4 bands — see operators.dedup)."""
    return DD.simhash_neardup_pairs(_docs_with_tokens(spark, sf_dir))


def _sql_simhash_neardups() -> str:
    bands, width = DD.SIMHASH_BANDS, DD.SIMHASH_BITS // DD.SIMHASH_BANDS
    maxh = DD.SIMHASH_MAX_HAMMING
    return f"""
WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS tokn FROM documents),
hashed AS (SELECT doc_id, {_PORTABLE_HASH.format(s='tokn')} AS h FROM toks),
bits AS (SELECT unnest(range(0, {DD.SIMHASH_BITS})) AS bit),
contrib AS (
  SELECT doc_id, bit, CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END AS w
  FROM hashed CROSS JOIN bits
),
persum AS (SELECT doc_id, bit, SUM(w) AS s FROM contrib GROUP BY 1, 2),
sh AS (
  SELECT doc_id,
    CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
  FROM persum GROUP BY doc_id
),
banded AS (
  SELECT doc_id, simhash, (simhash >> (band * {width})) & {(1 << width) - 1} AS bval, band
  FROM sh CROSS JOIN (SELECT unnest(range(0, {bands})) AS band)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS sh_a, b.simhash AS sh_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= {maxh}
"""


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc winnowed rolling-hash fingerprints (north-star text op:
    document fingerprinting via rolling hash; MOSS winnowing selection).
    Output pins the fingerprint set via count/min/max/sum aggregates."""
    d = load_table(spark, sf_dir, "documents")
    fpi = DD.winnow_fingerprints(d)
    return fpi.select(
        "doc_id",
        "n_grams",
        F.size("fps").cast("long").alias("n_fps"),
        F.array_min("fps").alias("min_fp"),
        F.array_max("fps").alias("max_fp"),
        F.aggregate("fps", F.lit(0).cast("long"), lambda a, x: a + x).alias("sum_fp"),
    )


def _sql_winnow_base() -> str:
    k, w = DD.WINNOW_K, DD.WINNOW_W
    b, m = TX.ROLL_BASE, TX.ROLL_MOD
    return f"""
WITH s AS (
  SELECT doc_id, regexp_replace({_norm('text')}, '[^ -~]', '', 'g') AS a FROM documents
),
h AS (
  SELECT doc_id,
    CASE WHEN length(a) >= {k} THEN
      list_transform(generate_series(1, length(a) - {k - 1}),
        i -> list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(generate_series(0, {k - 1}), j -> CAST(ord(a[i + j]) AS BIGINT))),
               (acc, c) -> (acc * {b} + c) % {m}))
    ELSE CAST([] AS BIGINT[]) END AS hashes
  FROM s
),
wn AS (
  SELECT doc_id, len(hashes) AS n_grams,
    CASE WHEN len(hashes) = 0 THEN CAST([] AS BIGINT[])
         WHEN len(hashes) < {w} THEN [list_min(hashes)]
         ELSE list_distinct(list_transform(generate_series(1, len(hashes) - {w - 1}),
                s -> list_min(hashes[s : s + {w - 1}])))
    END AS fps
  FROM h
)
"""


def _sql_winnow_fps() -> str:
    return (
        _sql_winnow_base()
        + """
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
  CAST(len(fps) AS BIGINT) AS n_fps,
  list_min(fps) AS min_fp, list_max(fps) AS max_fp,
  COALESCE(CAST(list_sum(fps) AS BIGINT), 0) AS sum_fp
FROM wn
"""
    )


def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style overlap detection: doc pairs sharing winnowed
    fingerprints, stop-fingerprint capped (see operators.dedup)."""
    d = load_table(spark, sf_dir, "documents")
    return DD.winnow_overlap_pairs(d)


def _sql_winnow_overlap() -> str:
    cap, min_shared = DD.WINNOW_MAX_DOC_FREQ, DD.WINNOW_MIN_SHARED
    return (
        _sql_winnow_base()
        + f"""
, e AS (SELECT doc_id, len(fps) AS n_fps, unnest(fps) AS fp FROM wn),
ok AS (SELECT fp FROM e GROUP BY fp HAVING count(*) <= {cap}),
f AS (SELECT e.doc_id, e.n_fps, e.fp FROM e JOIN ok USING (fp))
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS shared,
  {SQL_ROUND6.format(x='CAST(count(*) AS DOUBLE) / (a.n_fps + b.n_fps - count(*))')} AS overlap
FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id, a.n_fps, b.n_fps
HAVING count(*) >= {min_shared}
"""
    )


def q_doc_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking audit (operators.dedup.cdc_chunk_rows):
    Rabin-boundary chunks per document plus the corpus-wide chunk-hash
    dedup signal — n_shared_chunks counts a doc's chunks whose md5
    occurs more than once in the corpus, i.e. the bytes a CDC-dedup
    store would NOT have to write again. The content-anchored
    complement of the fixed-size q_doc_chunks splitter.

    Scale: chunk text never leaves its map task (hash+len computed in
    place); the two shuffles move (chunk_hash, len) pairs — a corpus/64
    row table of 16-byte keys — then re-key by doc_id for the bounded
    per-doc report; empty docs ride the LEFT join with count 0.

    The chunk-row table is STAGED (r12): it feeds both the corpus-wide
    hash-count aggregate and the join probe, and without staging the
    whole Arrow-hash + chunking chain ran twice (measured 2.47 s ->
    1.49 s at sf0.1, guide §1/§2). A count-over-window rewrite (no
    join-back) measured 1.38 s but loses partial aggregation and the
    AQE skew split on hot boilerplate chunks — same rejection as
    operators.dedup.repeated_spans' confirm phase."""
    from .operators.staging import stage

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rows = DD.cdc_chunk_rows(d).transform(stage)
    counts = rows.groupBy("chunk_hash").agg(F.count(F.lit(1)).alias("_n"))
    agg = (
        rows.join(counts, "chunk_hash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("_n") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_shared_chunks"),
            F.max("chunk_len").cast("long").alias("max_chunk_len"),
        )
    )
    base = d.select(
        "doc_id",
        F.length(TX.ascii_normalize(F.col("text"))).cast("long").alias("ascii_len"),
    )
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_chunks"), F.lit(0)).cast("long").alias("n_chunks"),
        F.coalesce(F.col("n_shared_chunks"), F.lit(0))
        .cast("long")
        .alias("n_shared_chunks"),
        F.coalesce(F.col("max_chunk_len"), F.lit(0))
        .cast("long")
        .alias("max_chunk_len"),
        "ascii_len",
    )


def _sql_doc_cdc_chunks() -> str:
    k, div = DD.CDC_K, DD.CDC_DIV
    b, m = TX.ROLL_BASE, TX.ROLL_MOD
    return f"""
WITH s AS (
  SELECT doc_id, regexp_replace({_norm('text')}, '[^ -~]', '', 'g') AS a FROM documents
),
h AS (
  SELECT doc_id, a,
    CASE WHEN length(a) >= {k} THEN
      list_transform(generate_series(1, length(a) - {k - 1}),
        i -> list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(generate_series(0, {k - 1}), j -> CAST(ord(a[i + j]) AS BIGINT))),
               (acc, c) -> (acc * {b} + c) % {m}))
    ELSE CAST([] AS BIGINT[]) END AS hs
  FROM s
),
cutp AS (
  SELECT doc_id, a,
    list_sort(list_distinct(list_concat(list_concat(
      [CAST(0 AS BIGINT)],
      list_transform(list_filter(generate_series(1, len(hs)), i -> hs[i] % {div} = 0),
                     i -> CAST(i + {k - 1} AS BIGINT))),
      [CAST(length(a) AS BIGINT)]))) AS ps
  FROM h
),
chunkrows AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(ps) - 1),
                                       j -> a[ps[j] + 1 : ps[j + 1]])) AS c
  FROM cutp
),
per AS (SELECT doc_id, md5(c) AS ch, length(c) AS cl FROM chunkrows),
cnt AS (SELECT ch, COUNT(*) AS n FROM per GROUP BY ch),
agg AS (
  SELECT doc_id, COUNT(*) AS n_chunks,
         SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS n_shared,
         MAX(cl) AS maxl
  FROM per JOIN cnt USING (ch) GROUP BY doc_id
)
SELECT s.doc_id,
       CAST(COALESCE(n_chunks, 0) AS BIGINT) AS n_chunks,
       CAST(COALESCE(n_shared, 0) AS BIGINT) AS n_shared_chunks,
       CAST(COALESCE(maxl, 0) AS BIGINT) AS max_chunk_len,
       CAST(length(s.a) AS BIGINT) AS ascii_len
FROM s LEFT JOIN agg USING (doc_id)
"""


#: terms fitted by the Zipf regression (the bounded head of the vocab).
ZIPF_TOP_TERMS = 200


def q_token_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus vocabulary: least-squares slope and
    intercept of ln(freq) ~ ln(rank) over the top-ZIPF_TOP_TERMS terms
    — the one-row corpus-health diagnostic (natural text fits slope
    ≈ −1; a far-off slope flags boilerplate/template floods or
    tokenizer breakage before they poison a training mix).

    Scale: ONE token hash aggregate (map-side combined) → TakeOrdered
    top-200 → all regression math runs on the bounded head (the window
    ranks ≤ 200 rows). Cross-engine determinism is the BM25 discipline:
    each ln is round6-quarantined, the four regression sums accumulate
    in decimal, and the closed-form slope/intercept are evaluated with
    the identical expression tree in both engines. Degenerate corpora
    (< 2 distinct terms) emit 0 rows rather than a 0/0 division."""
    from pyspark.sql import Window

    by_freq = [F.col("tf").desc(), F.col("term").asc()]
    top = (
        _term_counts(_docs_with_tokens(spark, sf_dir))
        .orderBy(*by_freq)
        .limit(ZIPF_TOP_TERMS)
    )
    w = Window.orderBy(*by_freq)
    pts = top.select(
        round6(F.log(F.row_number().over(w).cast("double"))).alias("x"),
        round6(F.log(F.col("tf").cast("double"))).alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        stable_sum("x").alias("sx"),
        stable_sum("y").alias("sy"),
        stable_sum(F.col("x") * F.col("y")).alias("sxy"),
        stable_sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.where(F.col("n") >= 2).select(
        F.col("n").cast("long").alias("n_terms"),
        round6(slope).alias("zipf_slope"),
        round6((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias(
            "zipf_intercept"
        ),
    )


def _sql_token_zipf_fit() -> str:
    return f"""
WITH {_sql_term_counts()},
top AS (
  SELECT term, tf, row_number() OVER (ORDER BY tf DESC, term ASC) AS r
  FROM tf ORDER BY tf DESC, term ASC LIMIT {ZIPF_TOP_TERMS}
),
pts AS (
  SELECT {SQL_ROUND6.format(x='ln(CAST(r AS DOUBLE))')} AS x,
         {SQL_ROUND6.format(x='ln(CAST(tf AS DOUBLE))')} AS y
  FROM top
),
s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         {_ssum('x')} AS sx, {_ssum('y')} AS sy,
         {_ssum('x * y')} AS sxy, {_ssum('x * x')} AS sxx
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_terms,
       {SQL_ROUND6.format(x='(n * sxy - sx * sy) / (n * sxx - sx * sx)')} AS zipf_slope,
       {SQL_ROUND6.format(
           x='(sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n')} AS zipf_intercept
FROM s WHERE n >= 2
"""


def q_user_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout over the events table: users hash-split
    into two arms (portable md5 parity — the same deterministic
    assignment a real bucketing service ships), conversion = the user
    has at least one purchase event, and the one-row report carries per-
    arm sizes, conversion rates, relative lift, and the pooled
    two-proportion z statistic an experimentation platform gates
    launches on.

    Scale: ONE distinct-collapse of the fact to (user, converted) —
    map-side combined — then a 2-row arm aggregate and closed-form
    bounded math; no fact self-joins. All ratios are exact-integer
    rationals round6'd; the z denominator is guarded (p ∈ {{0, 1}} or an
    empty arm emit 0.0, matching the oracle's CASE)."""
    ev = load_table(spark, sf_dir, "events")
    users = (
        ev.groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv")
        )
        .select(
            (TX.portable_hash(F.col("user_id").cast("string")) % 2).alias("arm"),
            "conv",
        )
    )
    # BOTH arms fold in ONE conditional aggregate — splitting the arm
    # table with two filters re-derives the whole chain and scans the
    # fact twice (caught by the plan test); empty/one-arm corpora drop
    # out via the n > 0 gate instead of dividing by zero.
    j = users.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("conv_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("conv_b"),
    ).where((F.col("n_a") > 0) & (F.col("n_b") > 0))
    rate_a = F.col("conv_a").cast("double") / F.col("n_a")
    rate_b = F.col("conv_b").cast("double") / F.col("n_b")
    pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    se = F.sqrt(
        pool
        * (F.lit(1.0) - pool)
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    return j.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        round6(rate_a).alias("rate_a"),
        round6(rate_b).alias("rate_b"),
        F.when(F.col("conv_a") == 0, F.lit(0.0))
        .otherwise(round6(rate_b / rate_a - F.lit(1.0)))
        .alias("lift"),
        F.when(
            (pool <= 0) | (pool >= 1), F.lit(0.0)
        )
        .otherwise(round6((rate_b - rate_a) / se))
        .alias("z_score"),
    )


def _sql_user_ab_lift() -> str:
    return f"""
WITH users AS (
  SELECT CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 AS arm,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
),
j AS (
  SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
         CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
  FROM users
  HAVING n_a > 0 AND n_b > 0
)
SELECT n_a, n_b, conv_a, conv_b,
  {SQL_ROUND6.format(x='CAST(conv_a AS DOUBLE) / n_a')} AS rate_a,
  {SQL_ROUND6.format(x='CAST(conv_b AS DOUBLE) / n_b')} AS rate_b,
  CASE WHEN conv_a = 0 THEN 0.0
       ELSE {SQL_ROUND6.format(
           x='CAST(conv_b AS DOUBLE) / n_b / (CAST(conv_a AS DOUBLE) / n_a) - 1.0')}
  END AS lift,
  CASE WHEN CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) <= 0
         OR CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) >= 1 THEN 0.0
       ELSE {SQL_ROUND6.format(
           x='(CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a)'
             ' / sqrt(CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)'
             ' * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))'
             ' * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))')}
  END AS z_score
FROM j
"""


# --------------------------------------------------------------------------
# Similarity search (embeddings table)
# --------------------------------------------------------------------------

def _sql_cosine(where: str, vec: str = "embedding", p: str = "") -> str:
    """CTE chain ``{p}qe, {p}ce, {p}norms, {p}dots, {p}cos``, the oracle
    twin of operators.similarity.cosine_sides/cosine_sim: ``{p}cos``
    holds the exact cosine ``sim`` of every ``(qid, nid)`` pair with
    ``qid != nid``, queries being the ``embeddings`` rows matching
    ``where``, vectors the ``vec`` expression; 0.0 when either vector is
    all-zero. ``p`` prefixes the names so one query can hold two chains."""
    return f"""{p}qe AS (
  SELECT vec_id AS qid, generate_subscripts({vec}, 1) AS i,
         CAST(unnest({vec}) AS DOUBLE) AS x
  FROM embeddings WHERE {where}
),
{p}ce AS (
  SELECT vec_id AS nid, generate_subscripts({vec}, 1) AS i,
         CAST(unnest({vec}) AS DOUBLE) AS y
  FROM embeddings
),
{p}norms AS (SELECT nid, SUM(y * y) AS n2 FROM {p}ce GROUP BY nid),
{p}dots AS (
  SELECT qid, nid, SUM(x * y) AS d
  FROM {p}qe JOIN {p}ce USING (i) GROUP BY qid, nid
),
{p}cos AS (
  SELECT qid, {p}dots.nid AS nid,
         CASE WHEN sqrt(nq.n2) * sqrt(nc.n2) = 0 THEN 0.0
              ELSE d / (sqrt(nq.n2) * sqrt(nc.n2)) END AS sim
  FROM {p}dots
  JOIN {p}norms nq ON nq.nid = {p}dots.qid
  JOIN {p}norms nc ON nc.nid = {p}dots.nid
  WHERE qid != {p}dots.nid
)"""


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 for query vectors (vec_id % 50 = 0)."""
    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") % 50 == 0)
    return SIM.cosine_topk(q, emb)


SQL_COSINE_TOPK = f"""
WITH {_sql_cosine("vec_id % 50 = 0")},
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rn
  FROM cos
)
SELECT qid AS query_id, nid AS neighbor_id, round(sim, 6) AS cosine_sim
FROM ranked WHERE rn <= {SIM.TOPK}
"""


def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm (vector column math, no UDF)."""
    emb = _emb(spark, sf_dir)
    return emb.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.round(F.sqrt(F.expr(
            "aggregate(cast(embedding as array<double>), cast(0.0 as double), (a, x) -> a + x * x)"
        )), 6).alias("l2_norm"),
    )


SQL_EMB_NORMS = """
SELECT vec_id, CAST(label AS BIGINT) AS label, round(sqrt(SUM(y * y)), 6) AS l2_norm
FROM (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS y FROM embeddings)
GROUP BY vec_id, label
"""


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate NN (scale path; recall asserted in
    tests AGAINST the exact baseline, correctness asserted against a
    full SQL oracle): the hyperplanes are deterministic md5-derived
    constants (functions.vector.plane_coefficients), so the whole
    approximate pipeline — signature, bucket blocking, multiprobe
    bit-flips, in-bucket rerank — is reproducible in DuckDB from the
    same plane table. The oracle shares only those constants; the
    bucketing/candidate/rerank computation is independent, which is
    what the differential actually checks."""
    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") % 50 == 0)
    return SIM.ann_lsh_topk(q, emb)


def _sql_ann_lsh() -> str:
    from .functions.vector import plane_coefficients

    n_planes, k = SIM.LSH_PLANES, SIM.TOPK
    planes = plane_coefficients(n_planes, "rp")
    rows = ", ".join(
        f"({p}, {i + 1}, {c!r})"
        for p, row in enumerate(planes)
        for i, c in enumerate(row)
    )
    flips = [
        f"SELECT qid, substr(sig, 1, {i}) || "
        f"(CASE WHEN substr(sig, {i + 1}, 1) = '1' THEN '0' ELSE '1' END)"
        f" || substr(sig, {i + 2}, {n_planes - i - 1}) AS bucket FROM qsig"
        for i in range(n_planes)
    ]
    probes = " UNION ALL ".join(
        ["SELECT qid, sig AS bucket FROM qsig", *flips]
    )
    return f"""
WITH planes(p, i, c) AS (VALUES {rows}),
e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
dots AS (SELECT vec_id, p, SUM(CAST(x * c AS {STABLE_DECIMAL})) AS d
         FROM e JOIN planes USING (i) GROUP BY vec_id, p),
sig AS (SELECT vec_id,
               string_agg(CASE WHEN d >= 0 THEN '1' ELSE '0' END, ''
                          ORDER BY p) AS sig
        FROM dots GROUP BY vec_id),
qsig AS (SELECT vec_id AS qid, sig FROM sig WHERE vec_id % 50 = 0),
probes AS (SELECT DISTINCT qid, bucket FROM ({probes})),
cand AS (
  SELECT DISTINCT pr.qid, s.vec_id AS nid
  FROM probes pr JOIN sig s ON s.sig = pr.bucket
  WHERE s.vec_id != pr.qid
),
norms AS (SELECT vec_id, sqrt(SUM(x * x)) AS nn FROM e GROUP BY vec_id),
pd AS (
  SELECT cand.qid, cand.nid, SUM(qe.x * ce.x) AS d
  FROM cand
  JOIN e qe ON qe.vec_id = cand.qid
  JOIN e ce ON ce.vec_id = cand.nid AND ce.i = qe.i
  GROUP BY cand.qid, cand.nid
),
sims AS (
  SELECT qid, nid,
         CASE WHEN nq.nn * nc.nn = 0 THEN 0.0
              ELSE d / (nq.nn * nc.nn) END AS sim
  FROM pd
  JOIN norms nq ON nq.vec_id = pd.qid
  JOIN norms nc ON nc.vec_id = pd.nid
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rn
  FROM sims
)
SELECT qid AS query_id, nid AS neighbor_id, round(sim, 6) AS cosine_sim
FROM ranked WHERE rn <= {k}
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate NN (the second classic ANN scale path
    next to ann_lsh; recall asserted in tests vs the exact baseline).
    ORACLED as of r09 — like ann_lsh in r08, the registered shape is
    fully deterministic end-to-end: seed centroids are the IVF_CELLS
    lowest-id vectors unit-normalized with a sequential Python fold
    (≡ list_reduce), cell dots are sequential folds, assignment is
    first-occurrence argmax, probes rank by (score desc, cell asc) —
    so the whole pipeline (quantizer, inverted lists, probe set, exact
    rerank) is reproducible in DuckDB and the driver hash-checks it."""
    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") % 50 == 0)
    return SIM.ann_ivf_topk(q, emb, SIM.IVF_PROBES)


def _sql_ann_ivf() -> str:
    n_cells, n_probe, k = SIM.IVF_CELLS, SIM.IVF_PROBES, SIM.TOPK
    sq_n2 = (
        "list_reduce(list_transform({v}, x -> "
        "CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)"
    )
    return f"""
WITH seed AS (
  SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {n_cells}
),
cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) AS cell,
         CASE WHEN {sq_n2.format(v='embedding')} = 0
              THEN list_transform(embedding, x -> 0.0)
              ELSE list_transform(embedding,
                     x -> CAST(x AS DOUBLE) / sqrt({sq_n2.format(v='embedding')}))
         END AS cv
  FROM seed
),
cdots AS (
  SELECT e.vec_id, c.cell, {_SQL_SEQ_DOT.format(p='e.embedding', c='c.cv')} AS s
  FROM embeddings e CROSS JOIN cent c
),
cmax AS (SELECT vec_id, MAX(s) AS m FROM cdots GROUP BY vec_id),
assign AS (
  SELECT vec_id, MIN(cell) AS cell
  FROM cdots JOIN cmax USING (vec_id) WHERE s = m GROUP BY vec_id
),
qrank AS (
  SELECT vec_id AS qid, cell,
         row_number() OVER (
           PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn
  FROM cdots WHERE vec_id % 50 = 0
),
probes AS (SELECT qid, cell FROM qrank WHERE rn <= {n_probe}),
norms AS (
  SELECT vec_id, sqrt({sq_n2.format(v='embedding')}) AS nn FROM embeddings
),
sims AS (
  SELECT p.qid, a.vec_id AS nid,
         CASE WHEN nq.nn * nc.nn = 0 THEN 0.0
              ELSE {_SQL_SEQ_DOT.format(p='qe.embedding', c='ce.embedding')}
                   / (nq.nn * nc.nn) END AS sim
  FROM probes p
  JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.qid
  JOIN embeddings qe ON qe.vec_id = p.qid
  JOIN embeddings ce ON ce.vec_id = a.vec_id
  JOIN norms nq ON nq.vec_id = p.qid
  JOIN norms nc ON nc.vec_id = a.vec_id
),
ranked AS (
  SELECT qid, nid, sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rn
  FROM sims
)
SELECT qid AS query_id, nid AS neighbor_id, round(sim, 6) AS cosine_sim
FROM ranked WHERE rn <= {k}
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing + Arrow-batched byte-level feature
    extraction (length, md5, header bytes; see operators.multimodal)."""
    d = _docs_with_tokens(spark, sf_dir)
    media = attach_binary_payload(d)
    feats = extract_media_features(media)
    return feats.select(
        "media_id", F.col("n_bytes").cast("long").alias("n_bytes"),
        "content_md5", "header_hex",
    )


SQL_MULTIMODAL = """
SELECT doc_id AS media_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5, lower(hex(substr(text, 1, 8))) AS header_hex
FROM documents
"""


def q_weather_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct-of-arrays → hourly rows (SURVEY S12 pivot) on a deterministic
    inline WeatherResponse-shaped frame (driver testdata has no weather)."""
    from .sources.weather import synthetic_weather_literals  # lazy: avoids cycle

    times, metrics = synthetic_weather_literals()
    arrays = [F.array(*[F.lit(t) for t in times]).alias("time")] + [
        F.array(*[F.lit(v) for v in vals]).alias(name) for name, vals in metrics
    ]
    df = spark.range(1).select(*arrays)
    return explode_parallel_arrays(df, ["time"] + [n for n, _ in metrics])


def _sql_weather() -> str:
    from .sources.weather import synthetic_weather_literals

    times, metrics = synthetic_weather_literals()
    t_lit = "[" + ", ".join(f"'{t}'" for t in times) + "]"
    cols = [f"unnest({t_lit}) AS time"]
    for name, vals in metrics:
        v_lit = "[" + ", ".join(repr(float(v)) for v in vals) + "]"
        cols.append(f"CAST(unnest({v_lit}) AS DOUBLE) AS {name}")
    return "SELECT " + ", ".join(cols)


def q_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup resolution: connected components over the MinHash-LSH pair
    list (operators.graph) — every paired doc labeled with the smallest
    doc id in its duplicate group, the id a keep-one filter retains."""
    from .operators.graph import connected_components

    pairs = DD.minhash_lsh_pairs(_docs_with_tokens(spark, sf_dir))
    return connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("component").alias("component")
    )


def _sql_neardup_components() -> str:
    """Oracle: transitive closure by recursive CTE (feasible at oracle
    scale; the Spark side uses join-iterated min-label propagation)."""
    return f"""
WITH RECURSIVE
pairs AS (SELECT id_a, id_b FROM ({_sql_minhash_lsh()}) q),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM pairs
),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach(node, lbl) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.lbl
)
SELECT node AS doc_id, MIN(lbl) AS component FROM reach GROUP BY node
"""


#: BFS contract constants — part of the query definition (the oracle
#: uses the same seed rule and depth cap)
BFS_SEED_MOD = 4
BFS_MAX_DEPTH = 4


def q_neardup_bfs_depths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance on the MinHash-LSH near-dup graph:
    every paired doc's distance to the nearest seed doc (doc_id %
    {BFS_SEED_MOD} == 0), capped at {BFS_MAX_DEPTH} hops — the
    hop-distance primitive completing the graph family (components /
    LPA / k-core / triangles / PageRank / link prediction). The depth
    cap is part of the definition: it bounds the iteration count
    corpus-independently AND makes the Spark frontier iteration equal a
    depth-capped recursive-CTE oracle exactly (near-dup families are
    shallow, so the cap loses nothing real)."""
    from .operators.graph import bfs_depths

    pairs = DD.minhash_lsh_pairs(_docs_with_tokens(spark, sf_dir))
    return bfs_depths(
        pairs, seed_mod=BFS_SEED_MOD, max_depth=BFS_MAX_DEPTH
    ).select(F.col("node").alias("doc_id"), "depth")


def _sql_neardup_bfs() -> str:
    """Oracle: depth-capped recursive CTE; UNION dedups (node, depth)
    states and MIN picks the first-discovery depth, which is exactly
    the frontier iteration's anti-join semantics."""
    return f"""
WITH RECURSIVE
prs AS (SELECT id_a, id_b FROM ({_sql_minhash_lsh()}) q),
edges AS (
  SELECT id_a AS a, id_b AS b FROM prs
  UNION
  SELECT id_b AS a, id_a AS b FROM prs
),
bfs(node, depth) AS (
  SELECT DISTINCT a AS node, 0 AS depth FROM edges WHERE a % {BFS_SEED_MOD} = 0
  UNION
  SELECT e.b, bfs.depth + 1 FROM bfs JOIN edges e ON e.a = bfs.node
  WHERE bfs.depth < {BFS_MAX_DEPTH}
)
SELECT node AS doc_id, CAST(MIN(depth) AS BIGINT) AS depth
FROM bfs GROUP BY node
"""


def q_doc_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: exactly min(20, |stratum|) docs
    per language by content-hash order (operators.sample) — reproducible
    on any engine/partitioning, unlike seeded df.sample()."""
    d = _docs_with_tokens(spark, sf_dir).select("doc_id", "lang")
    return SAMPLE.stratified_sample(d)


SQL_SAMPLE_BY_LANG = f"""
WITH h AS (
  SELECT doc_id, lang, {_PORTABLE_HASH.format(s='CAST(doc_id AS VARCHAR)')} AS sh
  FROM documents
),
r AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY sh, doc_id) AS rn
  FROM h
)
SELECT doc_id, lang FROM r WHERE rn <= {SAMPLE.STRATIFIED_K}
"""


def q_doc_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-only deterministic ~10% corpus slice by hash threshold
    (operators.sample.hash_sample): no shuffle, no seed, same rows on
    any engine — reproducible dataset lineage."""
    d = _docs_with_tokens(spark, sf_dir).select("doc_id", "lang")
    return SAMPLE.hash_sample(d)


SQL_HASH_SAMPLE = f"""
SELECT doc_id, lang FROM documents
WHERE {_PORTABLE_HASH.format(s='CAST(doc_id AS VARCHAR)')} < {int(SAMPLE.HASH_SAMPLE_FRACTION * (1 << 32))}
"""


def q_doc_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-percentile gate: keep each language's top quality quartile
    (percent_rank ≥ 0.75 within lang) — the relative-threshold corpus
    filter that adapts per stratum instead of using one global cutoff.

    Scale path (operators.rank.percent_rank_gate): a monolithic
    ``percent_rank OVER (PARTITION BY lang)`` would sort each language's
    ENTIRE corpus in one task. Instead: bounded (lang, quality) slab
    aggregate → offset window over slabs (≤ 1e6 rows/lang at any corpus
    size, since quality is rounded to 6 decimals) → broadcast slab join +
    row_number over the composite (lang, quality) key. Same rounded ranks
    as the monolithic window (the DuckDB oracle runs that form), no
    single-partition-per-language sort. See SCALING.md."""
    from .operators.rank import percent_rank_gate
    from .operators.staging import stage

    d = _docs_with_tokens(spark, sf_dir)
    staged = d.select(
        "doc_id", "lang", TX.tokens(F.col("text")).alias("_tok"), "text"
    )
    # STAGED (r07): percent_rank_gate references its input twice (slab
    # stats + slab join) — staging the 3-column scored frame keeps the
    # quality regex chain a single corpus pass.
    scored = staged.select(
        "doc_id",
        "lang",
        TX.quality_score(F.col("text"), tok=F.col("_tok")).alias("quality"),
    ).transform(stage)
    return percent_rank_gate(scored).select("doc_id", "lang", "quality", "q_rank")


def _sql_quality_expr() -> str:
    """DuckDB twin of TX.quality_score over columns ``text`` and ``t``
    (the token list) — shared by every oracle that scores quality."""
    sw = _sw_sql(TX.QUALITY_STOPWORDS)
    swr = f"(CASE WHEN len(t) = 0 THEN 0.0 ELSE CAST(len(list_filter(t, x -> list_contains({sw}, x))) AS DOUBLE) / len(t) END)"
    alpha = "(CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) END)"
    return SQL_ROUND6.format(x=f"0.4 * least(CAST(len(t) AS DOUBLE) / 100.0, 1.0) + 0.3 * {alpha} + 0.3 * {swr}")


def _sql_quality_filter() -> str:
    from .operators.rank import GATE_MIN_RANK

    qual = _sql_quality_expr()
    return f"""
WITH toks AS (SELECT doc_id, lang, text, {_TOKS} AS t FROM documents),
scored AS (SELECT doc_id, lang, {qual} AS quality FROM toks),
ranked AS (
  SELECT doc_id, lang, quality,
         {SQL_ROUND6.format(x='PERCENT_RANK() OVER (PARTITION BY lang ORDER BY quality ASC, doc_id ASC)')} AS q_rank
  FROM scored
)
SELECT doc_id, lang, quality, q_rank FROM ranked WHERE q_rank >= {GATE_MIN_RANK}
"""


def q_doc_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted corpus mixing (operators.sample.weighted_hash_sample):
    per-language deterministic keep-rates, map-only, reproducible on any
    engine/partitioning; thresholds nest, so re-weighting up yields a
    superset of the previous mixture."""
    d = _docs_with_tokens(spark, sf_dir).select("doc_id", "lang")
    return SAMPLE.weighted_hash_sample(d)


def _sql_corpus_mix() -> str:
    cases = " ".join(
        f"WHEN '{k}' THEN {int(v * (1 << 32))}"
        for k, v in sorted(SAMPLE.CORPUS_MIX.items())
    )
    return f"""
SELECT doc_id, lang FROM documents
WHERE {_PORTABLE_HASH.format(s='CAST(doc_id AS VARCHAR)')} <
      CASE lang {cases} ELSE {int(SAMPLE.CORPUS_MIX_DEFAULT * (1 << 32))} END
"""


def q_doc_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per document by smoothed TF-IDF
    (tf · (ln((N+1)/(df+1)) + 1)) — the classic corpus-analysis ranking,
    all joins and aggregates: token explode → per-(doc,term) counts →
    term document frequencies → score → per-doc top-k. Two shuffles
    (doc+term, then term) regardless of corpus size; ranking uses the
    6-decimal-rounded score with a term tiebreak so the cut is
    deterministic cross-engine."""
    from .operators.topk import top_k_per_group

    d = _docs_with_tokens(spark, sf_dir)
    # corpus size from the un-repartitioned scan: parquet footer counts
    # only — the repartitioned frame would shuffle the whole corpus just
    # to count it
    n_docs = load_table(spark, sf_dir, "documents").count()
    from .operators.staging import stage

    # tf feeds the document frequencies AND the scoring join — STAGED
    # (r07) so the tokenize subtree derives once, not twice.
    tf = _term_counts(d, "doc_id").transform(stage)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(dfreq, "term").select(
        "doc_id",
        "term",
        F.round(
            F.col("tf")
            * (F.log(F.lit(n_docs + 1.0) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)),
            6,
        ).alias("score"),
    )
    return top_k_per_group(
        scored, ["doc_id"], [F.col("score").desc(), F.col("term").asc()], 5
    )


SQL_TFIDF = f"""
WITH {_sql_term_counts('doc_id')},
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT doc_id, term,
         round(tf * (ln(((SELECT COUNT(*) FROM documents) + 1.0) / (df + 1.0)) + 1.0), 6) AS score
  FROM tf JOIN dfreq USING (term)
),
ranked AS (
  SELECT doc_id, term, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rn
  FROM scored
)
SELECT doc_id, term, score FROM ranked WHERE rn <= 5
"""


def q_emb_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (functions.vector): per-row
    scale 127/max|x|, elementwise round — map-only, no shuffle; the 4×
    smaller column is what an ANN shortlist scans at 100 TB, with exact
    re-scoring against the float column."""
    from .functions.vector import quantize_embedding, quantize_scale

    emb = _emb(spark, sf_dir)
    scale = quantize_scale(F.col("embedding"))
    # qvec is serialized "i,i,..." — the driver's canonicalizer (pandas
    # sort_values) cannot hash list cells (r4 ERR), and the registry
    # forbids array/struct output columns (tests/test_oracle.py).
    return emb.select(
        "vec_id",
        round6(scale).alias("scale"),
        F.array_join(
            quantize_embedding(F.col("embedding"), scale).cast("array<string>"),
            ",",
        ).alias("qvec"),
    )


SQL_QUANTIZED = f"""
WITH m AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
  FROM embeddings
),
s AS (
  SELECT vec_id, embedding,
         CASE WHEN mx = 0 THEN 0.0 ELSE 127.0 / mx END AS scale
  FROM m
)
SELECT vec_id, {SQL_ROUND6.format(x='scale')} AS scale,
       array_to_string(
         list_transform(embedding,
                        x -> CAST(CAST(round(CAST(x AS DOUBLE) * scale) AS INTEGER) AS VARCHAR)),
         ',') AS qvec
FROM s
"""


#: clicks_after_error window (4 h in micros).
_ERR_WINDOW_US = 4 * 3600 * 1_000_000


def q_clicks_after_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join (operators.interval): every click within 4 h AFTER an
    error by the same user — the point-in-range join Spark would
    otherwise plan as a BroadcastNestedLoop, expressed as lossless
    bin blocking + exact BETWEEN."""
    from .operators.interval import interval_join

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts_us", "event_type"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts_us"
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("err_event_id"),
        F.col("ts_us").alias("err_start"),
        (F.col("ts_us") + F.lit(_ERR_WINDOW_US)).alias("err_end"),
    )
    out = interval_join(clicks, errors, _ERR_WINDOW_US)
    return out.select("user_id", "event_id", "ts_us", "err_event_id")


SQL_CLICKS_AFTER_ERROR = f"""
WITH clicks AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
  WHERE event_type = 'click'
),
errors AS (
  SELECT user_id, event_id AS err_event_id, epoch_us(ts) AS err_start,
         epoch_us(ts) + {_ERR_WINDOW_US} AS err_end
  FROM events WHERE event_type = 'error'
)
SELECT c.user_id, c.event_id, c.ts_us, e.err_event_id
FROM clicks c JOIN errors e
  ON e.user_id = c.user_id AND c.ts_us >= e.err_start AND c.ts_us <= e.err_end
"""


#: Gopher-style rule thresholds (public heuristics from the Gopher /
#: MassiveText filtering literature): token-count band, mean-word-length
#: band, symbol share, alphabetic share.
GOPHER_MIN_TOKENS, GOPHER_MAX_TOKENS = 10, 10_000
GOPHER_MEAN_LEN_LO, GOPHER_MEAN_LEN_HI = 2.0, 12.0
GOPHER_MAX_SYMBOL_RATIO = 0.2
GOPHER_MIN_ALPHA_RATIO = 0.5


def q_doc_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality flags — the complement of the
    percentile gate: absolute, per-doc, fully map-only (zero shuffle at
    any corpus size). Mean token length is pure arithmetic — normalized
    text carries exactly n-1 single spaces, so mean = (chars-(n-1))/n —
    no second lambda pass over the tokens."""
    d = _docs_with_tokens(spark, sf_dir)
    staged = d.select(
        "doc_id",
        "lang",
        "text",
        TX.tokens(F.col("text")).alias("_tok"),
        TX.normalize_text(F.col("text")).alias("_norm"),
    )
    n = F.size("_tok").cast("long")
    mean_len = F.when(
        n > 0, round6((F.length("_norm") - (n - 1)) / n)
    ).otherwise(F.lit(0.0))
    alpha = round6(TX.alpha_ratio(F.col("text")))
    sym = round6(TX.punct_ratio(F.col("text")))
    scored = staged.select(
        "doc_id",
        "lang",
        n.alias("n_tokens"),
        mean_len.alias("mean_tok_len"),
        alpha.alias("alpha_ratio"),
        sym.alias("symbol_ratio"),
    )
    keep = (
        (F.col("n_tokens") >= GOPHER_MIN_TOKENS)
        & (F.col("n_tokens") <= GOPHER_MAX_TOKENS)
        & (F.col("mean_tok_len") >= GOPHER_MEAN_LEN_LO)
        & (F.col("mean_tok_len") <= GOPHER_MEAN_LEN_HI)
        & (F.col("symbol_ratio") <= GOPHER_MAX_SYMBOL_RATIO)
        & (F.col("alpha_ratio") >= GOPHER_MIN_ALPHA_RATIO)
    )
    return scored.withColumn("keep", keep)


def _sql_gopher_quality() -> str:
    alpha = "(CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) END)"
    punct = "(CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) / length(text) END)"
    return f"""
WITH toks AS (
  SELECT doc_id, lang, text, {_TOKS} AS t, {_norm('text')} AS nm
  FROM documents
),
scored AS (
  SELECT doc_id, lang, CAST(len(t) AS BIGINT) AS n_tokens,
         CASE WHEN len(t) > 0
              THEN {SQL_ROUND6.format(x='CAST(length(nm) - (len(t) - 1) AS DOUBLE) / len(t)')}
              ELSE 0.0 END AS mean_tok_len,
         {SQL_ROUND6.format(x=alpha)} AS alpha_ratio,
         {SQL_ROUND6.format(x=punct)} AS symbol_ratio
  FROM toks
)
SELECT *,
       (n_tokens >= {GOPHER_MIN_TOKENS} AND n_tokens <= {GOPHER_MAX_TOKENS}
        AND mean_tok_len >= {GOPHER_MEAN_LEN_LO} AND mean_tok_len <= {GOPHER_MEAN_LEN_HI}
        AND symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
        AND alpha_ratio >= {GOPHER_MIN_ALPHA_RATIO}) AS keep
FROM scored
"""


#: Repetition gate: docs whose duplicated-trigram share exceeds this are
#: template/boilerplate spam (C4-style repetition filtering).
REPETITION_MAX_DUP_RATIO = 0.3


def q_doc_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-n-gram spam score, map-only: duplicated-trigram share =
    1 - distinct/total trigrams. Both counts come from the one token
    array already staged — no explode, no shuffle, 100 TB-flat."""
    d = _docs_with_tokens(spark, sf_dir)
    staged = d.select(
        "doc_id", "lang", TX.tokens(F.col("text")).alias("_tok")
    )
    total = F.greatest(F.size("_tok") - 2, F.lit(0)).cast("long")
    distinct = F.size(TX.word_ngrams(F.col("_tok"), 3)).cast("long")
    scored = staged.select(
        "doc_id",
        "lang",
        total.alias("n_grams"),
        distinct.alias("n_distinct_grams"),
    )
    dup = F.when(
        F.col("n_grams") > 0,
        round6(
            (F.col("n_grams") - F.col("n_distinct_grams")) / F.col("n_grams")
        ),
    ).otherwise(F.lit(0.0))
    return scored.withColumn("dup_gram_ratio", dup).withColumn(
        "keep", F.col("dup_gram_ratio") <= REPETITION_MAX_DUP_RATIO
    )


def _sql_repetition_filter() -> str:
    return f"""
WITH toks AS (SELECT doc_id, lang, {_TOKS} AS t FROM documents),
c AS (
  SELECT doc_id, lang,
         CAST(greatest(len(t) - 2, 0) AS BIGINT) AS n_grams,
         CAST(len({_SHINGLES.format(t='t')}) AS BIGINT) AS n_distinct_grams
  FROM toks
),
s AS (
  SELECT *,
         CASE WHEN n_grams > 0
              THEN {SQL_ROUND6.format(x='CAST(n_grams - n_distinct_grams AS DOUBLE) / n_grams')}
              ELSE 0.0 END AS dup_gram_ratio
  FROM c
)
SELECT *, dup_gram_ratio <= {REPETITION_MAX_DUP_RATIO} AS keep FROM s
"""


#: Sequence-packing parameters: tokens per training window; number of
#: independent packing streams. PACK_SHARDS is the scale knob — each
#: shard's running-sum window sorts corpus/PACK_SHARDS rows in one task,
#: so a 100 TB corpus raises it (e.g. to 10^5) and nothing else changes.
PACK_BUDGET_TOKENS = 512
PACK_SHARDS = 8


def q_doc_pack_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing — assign every doc a training
    window (pack) id and its token offset inside that pack, the standard
    pretraining batching layout. Docs are sharded and ordered by content
    hash (deterministic, engine/relayout-independent shuffle), then a
    per-shard running token total bins them into PACK_BUDGET windows.
    One shuffle (the per-shard sort); pack ids are globally unique via
    the shard prefix."""
    from pyspark.sql import Window

    d = _docs_with_tokens(spark, sf_dir)
    staged = d.select(
        "doc_id",
        TX.token_count(F.col("text")).cast("long").alias("n_tokens"),
        TX.portable_hash(F.col("doc_id").cast("string")).alias("_h"),
    ).withColumn("shard", F.pmod(F.col("_h"), F.lit(PACK_SHARDS)))
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("_h").asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        staged.withColumn("_cb", cum)
        .select(
            "doc_id",
            "shard",
            "n_tokens",
            (
                F.col("shard") * F.lit(1_000_000_000)
                + F.expr(f"_cb div {PACK_BUDGET_TOKENS}")
            ).alias("pack_id"),
            (F.col("_cb") % PACK_BUDGET_TOKENS).alias("start_offset"),
        )
    )


SQL_PACK_WINDOWS = f"""
WITH t AS (
  SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
         {_PORTABLE_HASH.format(s='CAST(doc_id AS VARCHAR)')} AS h
  FROM documents
),
s AS (SELECT *, h % {PACK_SHARDS} AS shard FROM t),
c AS (
  -- CAST: DuckDB SUM(BIGINT) yields HUGEINT, which pandas materializes
  -- as float64 → the driver's stringified hash sees "3000000000.0" vs
  -- Spark's "3000000000" (r4 hash mismatch with identical values).
  SELECT doc_id, shard, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY shard ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
  FROM s
)
SELECT doc_id, shard, n_tokens,
       CAST(shard * 1000000000 + cb // {PACK_BUDGET_TOKENS} AS BIGINT) AS pack_id,
       CAST(cb % {PACK_BUDGET_TOKENS} AS BIGINT) AS start_offset
FROM c
"""


#: Decontamination: every PROBE_MOD-th doc (by content hash) stands in
#: for the benchmark/eval set; contamination = trigram containment.
PROBE_MOD = 20
CONTAMINATION_THRESHOLD = 0.5


def q_doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination by n-gram containment: for every
    non-probe doc, the share of its distinct trigrams that appear
    anywhere in the probe (benchmark) set. Join volume is bounded by the
    corpus gram count — the probe side is distinct grams, so each corpus
    gram matches at most one probe row; no df cap needed.

    Scale (r07 single-pass restructure — the join form derived the
    tokenize+shingle subtree SIX times): probe membership is a PURE
    HASH of doc_id, so probe/corpus split is a filter on the staged
    shingle index, not two joins; and n_grams/n_hit come from ONE
    aggregate over the probe-gram LEFT join (the distinct probe side
    cannot fan out, so count(*) is the size and count(_hit) the hits).
    Final plan: zero documents rescans past the staged index."""
    from .operators.staging import stage

    d = _docs_with_tokens(spark, sf_dir)
    h = TX.portable_hash(F.col("doc_id").cast("string"))
    idx = (
        DD.shingle_index(d, DD.SHINGLE_NGRAM)
        .withColumn("_probe", F.pmod(h, F.lit(PROBE_MOD)) == 0)
        .transform(stage)
    )
    probe_grams = idx.where(F.col("_probe")).select("shingle").distinct()
    corpus = idx.where(~F.col("_probe"))
    out = (
        corpus.join(probe_grams.withColumn("_hit", F.lit(1)), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("_hit").alias("n_hit"),
        )
    )
    return out.withColumn(
        "containment", round6(F.col("n_hit") / F.col("n_grams"))
    ).withColumn(
        "contaminated", F.col("containment") >= CONTAMINATION_THRESHOLD
    )


SQL_DECONTAMINATE = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
grams AS (SELECT doc_id, unnest({_SHINGLES.format(t='t')}) AS g FROM toks),
probe AS (
  SELECT doc_id FROM documents
  WHERE {_PORTABLE_HASH.format(s='CAST(doc_id AS VARCHAR)')} % {PROBE_MOD} = 0
),
pg AS (SELECT DISTINCT g FROM grams JOIN probe USING (doc_id)),
corpus AS (
  SELECT * FROM grams WHERE doc_id NOT IN (SELECT doc_id FROM probe)
),
sizes AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM corpus GROUP BY doc_id
),
hits AS (
  SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit
  FROM corpus c JOIN pg ON pg.g = c.g GROUP BY c.doc_id
),
j AS (
  SELECT s.doc_id, s.n_grams, COALESCE(h.n_hit, 0) AS n_hit,
         {SQL_ROUND6.format(x='CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / s.n_grams')} AS containment
  FROM sizes s LEFT JOIN hits h USING (doc_id)
)
SELECT *, containment >= {CONTAMINATION_THRESHOLD} AS contaminated FROM j
"""


#: Cluster-curation defaults: 8 clusters over the 64-dim embeddings.
KMEANS_K = 8

#: CTE chain ``cent, dists, assign``, the oracle twin of
#: operators.kmeans.initial_centroids + assign_clusters: ``assign``
#: holds each embedding's nearest seed centroid ``cid`` (the KMEANS_K
#: lowest-id vectors) and its squared distance ``d``, ties to the lowest
#: cid. The distance folds SEQUENTIALLY (list_reduce) like the Spark
#: side's F.aggregate, so the doubles — and hence the argmin, the
#: rounded distance and any rank on it — match bit for bit.
_SQL_NEAREST_CENTROID = f"""cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cvec
  FROM embeddings ORDER BY vec_id LIMIT {KMEANS_K}
),
dists AS (
  SELECT e.vec_id, c.cid,
         list_reduce(list_transform(list_zip(e.embedding, c.cvec), s ->
           (CAST(struct_extract(s, 1) AS DOUBLE) - CAST(struct_extract(s, 2) AS DOUBLE)) *
           (CAST(struct_extract(s, 1) AS DOUBLE) - CAST(struct_extract(s, 2) AS DOUBLE))
         ), (a, b) -> a + b) AS d
  FROM embeddings e CROSS JOIN cent c
),
assign AS (
  SELECT vec_id, cid, d FROM dists
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) = 1
)"""

#: Tokenizer-vocabulary construction: top-N corpus terms.
VOCAB_TOP_K = 100


def q_emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-based corpus curation view: nearest-centroid assignment
    (deterministic seed: the k lowest-id vectors) + per-cluster size,
    majority label, and purity. Assignment is map-only against a literal
    centroid matrix (operators.kmeans); the profile is two hash
    aggregates over k rows of output — flat at any corpus size. The
    seeded single pass is what keeps the DuckDB twin expressible."""
    emb = _emb(spark, sf_dir)
    cents = KM.initial_centroids(emb, KMEANS_K)
    if not cents:
        return _typed_empty(
            spark,
            "cluster_id long, n_members long, majority_label long, "
            "label_purity double",
        )
    assigned = KM.assign_clusters(emb, cents, keep_cols=("label",))
    return KM.cluster_profile(assigned)


SQL_EMB_KMEANS = f"""
WITH {_SQL_NEAREST_CENTROID},
a AS (SELECT vec_id, label, cid FROM assign JOIN embeddings USING (vec_id)),
sizes AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members FROM a GROUP BY cid),
labcnt AS (SELECT cid, label, COUNT(*) AS c FROM a GROUP BY cid, label),
maj AS (
  SELECT cid, label, c,
         row_number() OVER (PARTITION BY cid ORDER BY c DESC, label ASC) AS rn
  FROM labcnt
)
SELECT s.cid AS cluster_id, s.n_members,
       CAST(m.label AS BIGINT) AS majority_label,
       {SQL_ROUND6.format(x='CAST(m.c AS DOUBLE) / s.n_members')} AS label_purity
FROM sizes s JOIN maj m ON m.cid = s.cid AND m.rn = 1
"""


def q_doc_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary construction: global term frequencies, top-K
    by (count desc, term asc), with each vocab entry's cumulative share
    of all corpus tokens — the "how big a vocab covers X% of the
    stream" curve. Scale: explode + one hash agg (map-side partials
    absorb the token fan-out), then a TakeOrdered top-K; the cumulative
    window runs over at most K=``VOCAB_TOP_K`` rows (bounded, single
    task by design — it is the *output*, not the corpus). The
    vocab-sized count table is STAGED (r07): it feeds the corpus total
    AND the top-K cut, and un-staged Catalyst re-derived the tokenize
    explode twice."""
    from pyspark.sql import Window

    from .operators.staging import stage

    counts = (
        _term_counts(_docs_with_tokens(spark, sf_dir))
        .withColumnRenamed("tf", "term_count")
        .transform(stage)
    )
    total = counts.agg(F.sum("term_count").alias("_total"))
    by_freq = [F.col("term_count").desc(), F.col("term").asc()]
    topk = counts.orderBy(*by_freq).limit(VOCAB_TOP_K)
    w = Window.orderBy(*by_freq)
    ranked = topk.select(
        "term",
        F.row_number().over(w).cast("long").alias("rank"),
        "term_count",
        F.sum("term_count").over(w).alias("_cum"),
    )
    return ranked.crossJoin(F.broadcast(total)).select(
        "term",
        "rank",
        "term_count",
        round6(F.col("_cum").cast("double") / F.col("_total")).alias(
            "cum_share"
        ),
    )


SQL_VOCAB_COVERAGE = f"""
WITH {_sql_term_counts()},
ranked AS (
  SELECT term, tf AS term_count,
         CAST(row_number() OVER (ORDER BY tf DESC, term ASC) AS BIGINT) AS rank,
         SUM(tf) OVER () AS _total,
         SUM(tf) OVER (ORDER BY tf DESC, term ASC) AS _cum
  FROM tf
)
SELECT term, rank, term_count,
       {SQL_ROUND6.format(x='CAST(_cum AS DOUBLE) / CAST(_total AS DOUBLE)')} AS cum_share
FROM ranked WHERE rank <= {VOCAB_TOP_K}
"""


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential conversion funnel (view → click → purchase, strictly
    ordered per user): the sequence-pattern analytics the event
    connectors feed. Each stage is a hash aggregate per user joined to
    the previous stage's first-hit time — all equi-joins on user_id
    (co-partitioned, AQE-skew-safe), each stage strictly shrinking.
    Timestamps compare as exact integer micros (ts_us), never doubles.
    Each per-user stage table is STAGED (r07): the cascade references
    v three times and c twice, and un-staged lineage COMPOUNDS (c
    re-derives v, p re-derives both — seven events scans for a
    three-stage funnel); staged, each stage is exactly one selective
    pushed-filter scan."""
    from .operators.staging import stage as checkpoint

    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t_prev"))
        .transform(checkpoint)
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts_us") > F.col("t_prev"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t_prev"))
        .transform(checkpoint)
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts_us") > F.col("t_prev"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t_prev"))
    )

    def stage(df: DataFrame, step: int, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("long").alias("users")).select(
            F.lit(step).cast("long").alias("step"),
            F.lit(name).alias("stage"),
            "users",
        )

    stages = (
        stage(v, 1, "view")
        .unionByName(stage(c, 2, "click_after_view"))
        .unionByName(stage(p, 3, "purchase_after_click"))
    )
    base = v.agg(F.count(F.lit(1)).cast("long").alias("_base"))
    return stages.crossJoin(F.broadcast(base)).select(
        "step",
        "stage",
        "users",
        # greatest(base, 1): an events table with no view events still
        # reports the 3 funnel stages — conversion 0, not a
        # divide-by-zero abort (ANSI mode) on the 0-user base
        round6(
            F.col("users").cast("double")
            / F.greatest(F.col("_base"), F.lit(1)).cast("double")
        ).alias("conversion"),
    )


def q_doc_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus data card: doc/token/char totals per (source, lang) with
    rollup subtotals and grand total — the dataset-documentation
    artifact a curation run publishes. Same two-phase trick as
    q_sales_cube: collapse to per-(source, lang) partials first
    (integer sums — re-aggregation is exact), then rollup the partials;
    the Expand multiplies ~|sources|x|langs| rows, never the corpus."""
    d = _docs_with_tokens(spark, sf_dir)
    base = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(TX.token_count(F.col("text")).cast("long")).alias("_tok"),
        F.sum("n_chars").alias("_ch"),
    )
    return base.rollup("source", "lang").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.sum("_n").alias("n_docs"),
        F.sum("_tok").alias("total_tokens"),
        round6(F.sum("_ch").cast("double") / F.sum("_n")).alias("avg_chars"),
    )


SQL_DOC_DATA_CARD = f"""
SELECT source, lang,
       CAST(grouping(source, lang) AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len({_TOKS})) AS BIGINT) AS total_tokens,
       {SQL_ROUND6.format(x='CAST(SUM(n_chars) AS DOUBLE) / COUNT(*)')} AS avg_chars
FROM documents GROUP BY ROLLUP(source, lang)
HAVING COUNT(*) > 0
"""


SQL_EVENT_FUNNEL = f"""
WITH v AS (
  SELECT user_id, MIN(epoch_us(ts)) AS t FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t
  GROUP BY e.user_id
),
n AS (
  SELECT CAST(1 AS BIGINT) AS step, 'view' AS stage,
         CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS users
  UNION ALL
  SELECT 2, 'click_after_view', (SELECT COUNT(*) FROM c)
  UNION ALL
  SELECT 3, 'purchase_after_click', (SELECT COUNT(*) FROM p)
)
SELECT step, stage, users,
       {SQL_ROUND6.format(x='CAST(users AS DOUBLE) / (SELECT GREATEST(COUNT(*), 1) FROM v)')} AS conversion
FROM n
"""


def q_event_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + gap fill: a dense hourly grid per event
    type (sequence/explode over each type's [min, max] hour span), empty
    hours at count 0 with the last seen hourly average forward-filled —
    the standard monitoring/feature-store densification.

    Scale: the grid is |types| x elapsed-hours (8,760 rows per type per
    YEAR — bounded by wall-clock time, not data volume), so the per-type
    forward-fill window partition can never blow up the way a per-key
    data window could; the only full-data work is the hourly aggregate
    itself (map-side partials)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    # hourly feeds BOTH the span probe and the grid join; without
    # materialization Catalyst re-runs the full-data aggregate twice.
    # Its size is bounded (types x elapsed hours), so localCheckpoint
    # buys one full scan total (same pattern as the dedup indexes).
    hourly = tumbling_stats(ev).localCheckpoint()
    span = hourly.groupBy("event_type").agg(
        F.min("window_start_s").alias("_lo"), F.max("window_start_s").alias("_hi")
    )
    grid = span.select(
        "event_type",
        F.explode(F.sequence(F.col("_lo"), F.col("_hi"), F.lit(3600))).alias(
            "hour_s"
        ),
    )
    j = grid.join(
        hourly.withColumnRenamed("window_start_s", "hour_s"),
        ["event_type", "hour_s"],
        "left",
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        "event_type",
        "hour_s",
        F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
        F.last("avg_value", ignorenulls=True).over(w).alias("avg_value_filled"),
        F.col("n_events").isNull().alias("is_gap"),
    )


SQL_EVENT_GAP_FILL = f"""
WITH hourly AS (
  SELECT event_type, epoch_us(date_trunc('hour', ts)) // 1000000 AS h,
         CAST(COUNT(*) AS BIGINT) AS n, {_savg('value', 'COUNT(value)')} AS av
  FROM events GROUP BY 1, 2
),
span AS (SELECT event_type, MIN(h) AS lo, MAX(h) AS hi FROM hourly GROUP BY 1),
grid AS (
  SELECT event_type, unnest(range(lo, hi + 3600, 3600)) AS h FROM span
),
j AS (
  SELECT g.event_type, g.h, hourly.n, hourly.av
  FROM grid g LEFT JOIN hourly ON hourly.event_type = g.event_type AND hourly.h = g.h
)
SELECT event_type, h AS hour_s, COALESCE(n, 0) AS n_events,
       last_value(av IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_value_filled,
       n IS NULL AS is_gap
FROM j
"""


def q_event_pivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) — the reshape inverse of q_event_type_pivot: pivot
    the cohort x type counts wide, then unpivot back to long form. The
    output equals the direct (cohort, type) aggregate, which is exactly
    what the oracle computes — so the differential gate proves
    pivot∘unpivot is the identity. Wide-to-long is an Expand (map-only);
    the value-column list is pinned, schema never data-dependent."""
    ev = load_table(spark, sf_dir, "events")
    wide = (
        ev.withColumn("cohort", F.pmod(F.col("user_id"), F.lit(10)).cast("long"))
        .groupBy("cohort")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    wide = wide.select(
        "cohort",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in EVENT_TYPES],
    )
    return wide.unpivot(
        ["cohort"], list(EVENT_TYPES), "event_type", "n_events"
    ).where(F.col("n_events") > 0)


SQL_PIVOT_ROUNDTRIP = """
SELECT user_id % 10 AS cohort, event_type, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY 1, 2
"""


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped 3-way join + top-K: unshipped-order revenue for
    one market segment. The segment filter prunes customer BEFORE the
    join (Catalyst pushes it to the scan), orders⋈customer and
    lineitem⋈orders are co-keyed shuffle joins AQE can re-plan, the
    revenue aggregate partials map-side, and the final top-10 is a
    TakeOrdered — no global sort. Decimal-stable revenue sum."""
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(stable_sum(revenue).alias("revenue"))
    )
    out = j.select(
        "l_orderkey",
        F.expr("unix_micros(cast(o_orderdate as timestamp)) div 1000000").alias(
            "order_epoch_s"
        ),
        "o_orderpriority",
        "revenue",
    )
    return top_k(out, [F.col("revenue").desc(), F.col("l_orderkey").asc()], 10)


SQL_SHIPPING_PRIORITY = f"""
SELECT l_orderkey,
       epoch_us(o_orderdate) // 1000000 AS order_epoch_s,
       o_orderpriority,
       {_ssum('l_extendedprice * (1.0 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
"""


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped 6-way join: per-nation revenue where customer and
    supplier share the nation, one region, one order-date year. Nation
    and region broadcast (kilobyte dims at any SF); the fact-side joins
    are co-keyed shuffles; the s_nationkey = c_nationkey predicate rides
    the supplier join as a residual filter — Catalyst orders the tree,
    AQE fixes skew at runtime. Decimal-stable revenue sum."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    # revenue = price(2 dp) x (1 - discount)(2 dp) sits on the 4-dp
    # grid: exact int64 grid sum (r12, functions.gridsum), bit-identical
    # to the old decimal cast-sum
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    )
    return j.groupBy("n_name").agg(grid_sum(revenue, 4).alias("revenue"))


SQL_LOCAL_SUPPLIER_VOLUME = f"""
SELECT n_name, {_ssum('l_extendedprice * (1.0 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""



def q_emb_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (cluster-then-dedup) curation gate over the embedding
    corpus: nearest-seed-centroid assignment (deterministic, oracle-
    expressible — same seeding as emb_kmeans), then within each cluster
    drop any vector whose cosine to a lower-id cluster-mate reaches the
    threshold (operators.similarity.semdedup). The registered k=8 keeps
    the DuckDB twin tractable; at scale k grows ∝ n/target so per-
    cluster gram work stays bounded — see the operator docstring."""
    emb = _emb(spark, sf_dir)
    cents = KM.initial_centroids(load_table(spark, sf_dir, "embeddings"), KMEANS_K)
    if not cents:
        return _typed_empty(
            spark,
            "vec_id long, cluster_id long, kept boolean, "
            "max_prior_sim double",
        )
    out = SIM.semdedup(emb, cents)
    return out.select(
        "vec_id",
        "cluster_id",
        "kept",
        F.round(F.col("max_prior_sim"), 6).alias("max_prior_sim"),
    )


SQL_EMB_SEMDEDUP = f"""
WITH {_SQL_NEAREST_CENTROID},
ee AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
norms AS (SELECT vec_id, SUM(x * x) AS n2 FROM ee GROUP BY 1),
dots AS (
  SELECT aa.vec_id AS ia, bb.vec_id AS ib, SUM(xa.x * xb.x) AS d
  FROM assign aa
  JOIN assign bb ON aa.cid = bb.cid AND aa.vec_id < bb.vec_id
  JOIN ee xa ON xa.vec_id = aa.vec_id
  JOIN ee xb ON xb.vec_id = bb.vec_id AND xb.i = xa.i
  GROUP BY 1, 2
),
sims AS (
  SELECT ia, ib,
         CASE WHEN sqrt(na.n2) * sqrt(nb.n2) = 0 THEN 0.0
              ELSE d / (sqrt(na.n2) * sqrt(nb.n2)) END AS s
  FROM dots JOIN norms na ON na.vec_id = ia JOIN norms nb ON nb.vec_id = ib
),
prior AS (
  SELECT ib AS vec_id, MAX(s) AS ms FROM sims GROUP BY ib
)
SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cluster_id,
       COALESCE(prior.ms, 0.0) < {SIM.SEMDEDUP_THRESHOLD} AS kept,
       round(COALESCE(prior.ms, 0.0), 6) AS max_prior_sim
FROM assign a LEFT JOIN prior ON prior.vec_id = a.vec_id
"""


def q_ann_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH index-health monitoring: per-band bucket occupancy for the
    cosine-neardup index (operators.similarity.lsh_bucket_stats) — the
    operational dashboard row that says whether the adaptive band width
    is holding bucket populations near target or the corpus needs a
    retune before verify work goes quadratic."""
    n = load_table(spark, sf_dir, "embeddings").count()
    occ = SIM.lsh_bucket_stats(_emb(spark, sf_dir), SIM.neardup_rows_per_band(n))
    return occ.select(
        F.col("band").cast("long").alias("band"),
        "n_buckets",
        "n_rows",
        "max_bucket",
        round6(
            F.col("n_rows").cast("double") / F.col("n_buckets").cast("double")
        ).alias("avg_bucket"),
    )


def _sql_ann_index_stats() -> str:
    return f"""{_sql_lsh_bucket_prefix()},
occ AS (SELECT band, bkey, COUNT(*) AS c FROM buckets GROUP BY 1, 2)
SELECT CAST(band AS BIGINT) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       CAST(MAX(c) AS BIGINT) AS max_bucket,
       {SQL_ROUND6.format(x="CAST(SUM(c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)")} AS avg_bucket
FROM occ GROUP BY band
"""


def q_emb_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode of the embedding corpus
    (operators.pq): per-vector code array (m log2(k) bits ≡ a 128× cut
    vs float32 at production geometry) + reconstruction error audit.
    Seed codebooks keep the DuckDB twin expressible — the
    same determinism contract as emb_kmeans, including the same accepted
    risk: the oracle's per-subspace distance SUM is plain double (order-
    dependent), so an argmin could flip only if a subvector sat within
    ulps of equidistant between two codewords — measure-zero on real
    data, and the shape emb_kmeans has held green across rounds."""
    from .operators.pq import encode_pq, fit_pq

    raw = load_table(spark, sf_dir, "embeddings")
    books = fit_pq(raw)
    if not books[0]:
        # empty corpus -> empty seed books -> nothing to encode (the
        # oracle's LIMIT-k cent CTE is empty so it emits 0 rows too)
        return _typed_empty(
            spark, "vec_id long, codes string, recon_sq_err double"
        )
    out = encode_pq(_emb(spark, sf_dir), books)
    # codes serialized "c,c,..." — array cells break the driver's pandas
    # canonicalizer (r4 ERR); registry bans array/struct output columns.
    return out.select(
        "vec_id",
        F.array_join(F.col("codes").cast("array<string>"), ",").alias("codes"),
        F.round(F.col("recon_sq_err"), 6).alias("recon_sq_err"),
    )


_PQ_SUBDIM = 64 // PQ_M

SQL_EMB_PQ = f"""
WITH ee AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
sub AS (
  SELECT vec_id, (i - 1) // {_PQ_SUBDIM} AS s, (i - 1) % {_PQ_SUBDIM} AS j, x
  FROM ee
),
cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cvec
  FROM embeddings ORDER BY vec_id LIMIT {PQ_K}
),
cc AS (
  SELECT cid, generate_subscripts(cvec, 1) AS i,
         CAST(unnest(cvec) AS DOUBLE) AS y
  FROM cent
),
csub AS (
  SELECT cid, (i - 1) // {_PQ_SUBDIM} AS s, (i - 1) % {_PQ_SUBDIM} AS j, y
  FROM cc
),
dists AS (
  SELECT sub.vec_id, sub.s, csub.cid, SUM((x - y) * (x - y)) AS d
  FROM sub JOIN csub ON sub.s = csub.s AND sub.j = csub.j
  GROUP BY 1, 2, 3
),
assign AS (
  SELECT vec_id, s, cid, d,
         row_number() OVER (PARTITION BY vec_id, s ORDER BY d ASC, cid ASC) AS rn
  FROM dists
)
SELECT vec_id, string_agg(CAST(cid AS VARCHAR), ',' ORDER BY s) AS codes,
       round(SUM(d), 6) AS recon_sq_err
FROM assign WHERE rn = 1
GROUP BY vec_id
"""


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance approximate NN (the third ANN scale path
    next to ann_lsh/ann_ivf — this one compresses the CORPUS, not the
    candidate set). ORACLED as of r09 (completing the set: lsh r08,
    ivf r09): with seed codebooks every stage is
    deterministic — subvector→codeword squared distances are
    sequential folds, code assignment is first-min argmin, the ADC
    score folds the m per-subspace table lookups in subspace order —
    so the DuckDB twin rebuilds codebooks, codes, distance tables and
    the final ranking from the same parquet and the driver
    hash-checks the whole pipeline. tests/test_ann.py still pins
    recall against the exact baseline."""
    from .operators.pq import adc_topk, encode_pq, fit_pq

    raw = load_table(spark, sf_dir, "embeddings")
    books = fit_pq(raw)
    if not books[0]:
        return _typed_empty(
            spark, "query_id long, neighbor_id long, approx_sq_dist double"
        )
    emb = _emb(spark, sf_dir)
    codes = encode_pq(emb, books)
    q = emb.where(F.col("vec_id") % 50 == 0)
    return adc_topk(q, codes, books)


def _sql_ann_pq() -> str:
    m, kk, topk = PQ_M, PQ_K, SIM.TOPK
    subdim = 64 // m
    # per-subspace sequential-fold squared distance — the identical
    # IEEE accumulation order as operators.pq's sq_dist fold
    seq_sqd = (
        "list_reduce(list_transform(list_zip({a}, {b}), p -> "
        "(struct_extract(p, 1) - struct_extract(p, 2)) * "
        "(struct_extract(p, 1) - struct_extract(p, 2))), (x, y) -> x + y)"
    )
    sub_slice = (
        "list_transform(generate_series(s.s * {sd} + 1, s.s * {sd} + {sd}), "
        "i -> CAST({v}[i] AS DOUBLE))"
    ).format(sd=subdim, v="{v}")
    return f"""
WITH ss AS (SELECT unnest(generate_series(0, {m - 1})) AS s),
seed AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {kk}),
book AS (
  SELECT s.s, row_number() OVER (PARTITION BY s.s ORDER BY seed.vec_id) - 1 AS cid,
         {sub_slice.format(v='seed.embedding')} AS cw
  FROM seed CROSS JOIN ss s
),
sub AS (
  SELECT e.vec_id, s.s, {sub_slice.format(v='e.embedding')} AS sv
  FROM embeddings e CROSS JOIN ss s
),
d AS (
  SELECT sub.vec_id, sub.s, book.cid,
         {seq_sqd.format(a='sub.sv', b='book.cw')} AS d
  FROM sub JOIN book ON book.s = sub.s
),
codes AS (
  SELECT vec_id, s, cid FROM (
    SELECT vec_id, s, cid,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d ASC, cid ASC) AS rn
    FROM d
  ) WHERE rn = 1
),
pair AS (
  SELECT qd.vec_id AS qid, c.vec_id AS nid, qd.s, qd.d
  FROM codes c JOIN d qd ON qd.s = c.s AND qd.cid = c.cid
  WHERE qd.vec_id % 50 = 0 AND c.vec_id <> qd.vec_id
),
adist AS (
  SELECT qid, nid, list_reduce(list(d ORDER BY s), (a, b) -> a + b) AS ad
  FROM pair GROUP BY qid, nid
),
ranked AS (
  SELECT qid, nid, ad,
         row_number() OVER (PARTITION BY qid ORDER BY ad ASC, nid ASC) AS rn
  FROM adist
)
SELECT qid AS query_id, nid AS neighbor_id, round(ad, 6) AS approx_sq_dist
FROM ranked WHERE rn <= {topk}
"""


#: Exact-substring dedup gram length (chars). 40 on the synthetic corpus
#: surfaces the injected boilerplate/near-dup spans.
REPEATED_SPAN_GRAM = 40


def q_doc_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring spans (ExactSubstr dedup, Lee et al.
    2022) — the spans a curation run clips from the training text.
    operators.dedup.repeated_spans: int-hash frequency gate → exact
    substring confirm → per-doc island merge (see operator docstring for
    the three-phase scale argument)."""
    spans = DD.repeated_spans(
        _docs_with_tokens(spark, sf_dir), gram_len=REPEATED_SPAN_GRAM
    )
    return spans.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        "n_grams",
    )


#: DuckDB twin of functions.text.ascii_normalize (composed from the
#: shared _NORM fragment so normalization has ONE SQL spelling).
_ASCII_NORM_SQL = f"regexp_replace({_norm('text')}, '[^ -~]', '', 'g')"

SQL_DOC_REPEATED_SPANS = f"""
WITH n AS (SELECT doc_id, {_ASCII_NORM_SQL} AS t FROM documents),
pos AS (
  SELECT doc_id, t, unnest(range(1, len(t) - {REPEATED_SPAN_GRAM} + 2)) AS p
  FROM n WHERE len(t) >= {REPEATED_SPAN_GRAM}
),
g AS (SELECT doc_id, p, substr(t, p, {REPEATED_SPAN_GRAM}) AS s FROM pos),
rep AS (SELECT s FROM g GROUP BY s HAVING COUNT(*) >= 2),
hit AS (SELECT doc_id, p FROM g JOIN rep USING (s)),
isl AS (
  SELECT doc_id, p,
         CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p)
                   <= {REPEATED_SPAN_GRAM} THEN 0 ELSE 1 END AS brk
  FROM hit
),
grp AS (
  SELECT doc_id, p,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY p) AS isle
  FROM isl
)
SELECT doc_id, CAST(MIN(p) AS BIGINT) AS span_start,
       CAST(MAX(p) + {REPEATED_SPAN_GRAM} - 1 AS BIGINT) AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_grams
FROM grp GROUP BY doc_id, isle
"""


def q_doc_clip_repeated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step of ExactSubstr dedup: clip every repeated span out
    of each doc's normalized text (operators.dedup.clip_spans over
    repeated_spans' islands) and publish the cleaned length, a portable
    content hash of the clipped text, and the chars removed — the
    audit columns a curation run writes next to the cleaned corpus.
    Relational string surgery: a per-doc lag window over the spans
    (bounded by spans-per-doc) + ordered concat; docs with no spans pass
    through the left join unchanged."""
    d = _docs_with_tokens(spark, sf_dir)
    spans = DD.repeated_spans(d, gram_len=REPEATED_SPAN_GRAM)
    out = DD.clip_spans(d, spans)
    return out.select(
        "doc_id",
        F.length("clipped_text").cast("long").alias("n_chars_clean"),
        TX.portable_hash(F.col("clipped_text")).alias("clipped_hash"),
        "n_clipped_chars",
    )


def _sql_clip_repeated() -> str:
    k = REPEATED_SPAN_GRAM
    h = _PORTABLE_HASH.format(
        s="CASE WHEN heads.me IS NULL THEN n.t ELSE heads.head ||"
        " substr(n.t, heads.me + 1, len(n.t) - heads.me) END"
    )
    return f"""
WITH n AS (SELECT doc_id, {_ASCII_NORM_SQL} AS t FROM documents),
pos AS (
  SELECT doc_id, t, unnest(range(1, len(t) - {k} + 2)) AS p
  FROM n WHERE len(t) >= {k}
),
g AS (SELECT doc_id, p, substr(t, p, {k}) AS s FROM pos),
rep AS (SELECT s FROM g GROUP BY s HAVING COUNT(*) >= 2),
hit AS (SELECT doc_id, p FROM g JOIN rep USING (s)),
isl AS (
  SELECT doc_id, p,
         CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p)
                   <= {k} THEN 0 ELSE 1 END AS brk
  FROM hit
),
grp AS (
  SELECT doc_id, p, SUM(brk) OVER (PARTITION BY doc_id ORDER BY p) AS isle
  FROM isl
),
spans AS (
  SELECT doc_id, MIN(p) AS s, MAX(p) + {k} - 1 AS e
  FROM grp GROUP BY doc_id, isle
),
segs AS (
  SELECT spans.doc_id, s, e,
         substr(n.t, COALESCE(lag(e) OVER w, 0) + 1,
                s - (COALESCE(lag(e) OVER w, 0) + 1)) AS seg
  FROM spans JOIN n USING (doc_id)
  WINDOW w AS (PARTITION BY spans.doc_id ORDER BY s)
),
heads AS (
  SELECT doc_id, string_agg(seg, '' ORDER BY s) AS head, MAX(e) AS me
  FROM segs GROUP BY doc_id
)
SELECT n.doc_id,
       CAST(len(CASE WHEN heads.me IS NULL THEN n.t
                ELSE heads.head || substr(n.t, heads.me + 1, len(n.t) - heads.me)
                END) AS BIGINT) AS n_chars_clean,
       {h} AS clipped_hash,
       CAST(len(n.t) - len(CASE WHEN heads.me IS NULL THEN n.t
                ELSE heads.head || substr(n.t, heads.me + 1, len(n.t) - heads.me)
                END) AS BIGINT) AS n_clipped_chars
FROM n LEFT JOIN heads USING (doc_id)
"""


#: Train/val/test split fractions (cumulative upper bounds, as exact
#: 32-bit integer thresholds so both engines compare integers).
SPLIT_TRAIN_MAX = int(0.8 * (1 << 32))
SPLIT_VAL_MAX = int(0.9 * (1 << 32))


def q_doc_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split profile: every doc is assigned
    by the portable hash of its CONTENT fingerprint — not its id — so
    byte-identical duplicates can never straddle splits (the classic
    eval-contamination bug), re-crawled copies land deterministically,
    and the assignment survives any re-partitioning or engine change
    (same contract as operators.sample). Map-only assignment + one
    3-row aggregate."""
    d = _docs_with_tokens(spark, sf_dir)
    u = TX.portable_hash(TX.fingerprint(F.col("text")))
    split = (
        F.when(u < SPLIT_TRAIN_MAX, F.lit("train"))
        .when(u < SPLIT_VAL_MAX, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    # footer-metadata count on the RAW table (counting the repartitioned
    # frame would execute the round-robin shuffle just to learn n)
    total = load_table(spark, sf_dir, "documents").count()
    return (
        d.select(split.alias("split"), TX.token_count(F.col("text")).alias("_tk"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_tk").cast("long").alias("n_tokens"),
            round6(F.count(F.lit(1)).cast("double") / F.lit(float(total))).alias(
                "share"
            ),
        )
    )


def _sql_doc_splits() -> str:
    h = _PORTABLE_HASH.format(s=f"md5({_norm('text')})")
    return f"""
WITH a AS (
  SELECT CASE WHEN {h} < {SPLIT_TRAIN_MAX} THEN 'train'
              WHEN {h} < {SPLIT_VAL_MAX} THEN 'val'
              ELSE 'test' END AS split,
         CAST(len({_TOKS}) AS BIGINT) AS tk
  FROM documents
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tk) AS BIGINT) AS n_tokens,
       {SQL_ROUND6.format(x="CAST(COUNT(*) AS DOUBLE) / CAST(tot.n AS DOUBLE)")} AS share
FROM a CROSS JOIN tot
GROUP BY split, tot.n
"""


def q_event_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation coverage (SURVEY §2.7 extension): audience overlap
    between viewers and purchasers via NATIVE ``intersect``/``subtract``
    (each plans as a distinct + hash semi/anti join — co-keyed shuffles,
    AQE-safe, nothing quadratic). The three counts ride 1-row
    broadcasts into one output row. Both distinct audiences are STAGED
    (r07): each feeds all three set operations, and un-staged lineage
    re-scanned events six times for two audiences."""
    from .operators.staging import stage

    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .select("user_id")
        .distinct()
        .transform(stage)
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .transform(stage)
    )
    both = v.intersect(p).agg(F.count(F.lit(1)).alias("n_both"))
    v_only = v.subtract(p).agg(F.count(F.lit(1)).alias("n_view_only"))
    p_only = p.subtract(v).agg(F.count(F.lit(1)).alias("n_purchase_only"))
    return both.crossJoin(F.broadcast(v_only)).crossJoin(F.broadcast(p_only))


SQL_EVENT_AUDIENCE_OVERLAP = """
WITH v AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT * FROM v INTERSECT SELECT * FROM p)) AS n_both,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT * FROM v EXCEPT SELECT * FROM p)) AS n_view_only,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT * FROM p EXCEPT SELECT * FROM v)) AS n_purchase_only
"""


#: Epoch factors for corpus upsampling (LLaMA-style data mixing: high-
#: quality sources repeat, bulk sources run < 1 epoch). Sources absent
#: from the map default to 1.0.
UPSAMPLE_EPOCHS: dict[str, float] = {
    "src0": 2.5,
    "src1": 3.0,
    "src2": 0.5,
    "src3": 1.25,
}


def q_doc_upsample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-weighted corpus mixing, the UPSAMPLING half (doc_corpus_mix
    is the down-weighting half): a source with epoch factor r emits each
    doc floor(r) times plus one more with probability frac(r), decided
    by the doc's content-id hash — deterministic, engine-independent,
    and exactly r epochs in expectation. The emit is a map-only
    ``explode(sequence(1, n_copies))``; per-doc output keeps the copy
    count auditable. Fractional-part comparison is integer (hash <
    frac·2³²) so both engines decide identically."""
    d = _docs_with_tokens(spark, sf_dir)
    r = F.lit(1.0)
    for src, eps in UPSAMPLE_EPOCHS.items():
        r = F.when(F.col("source") == src, F.lit(float(eps))).otherwise(r)
    whole = F.floor(r).cast("long")
    # floor-then-cast on BOTH sides: Spark's double→long cast truncates
    # but DuckDB's CAST rounds to nearest, so a bare cast diverges for
    # any non-dyadic epoch fraction (e.g. r=1.1 → .1·2³² = …9.6)
    frac_thresh = F.floor((r - F.floor(r)) * F.lit(float(1 << 32))).cast("long")
    extra = (
        TX.portable_hash(F.concat_ws(":", F.col("doc_id"), F.lit("up")))
        < frac_thresh
    ).cast("long")
    n_copies = (whole + extra).alias("n_copies")
    per_doc = d.select("doc_id", "source", n_copies)
    emitted = per_doc.where(F.col("n_copies") > 0).select(
        "doc_id",
        "source",
        "n_copies",
        F.explode(F.sequence(F.lit(1), F.col("n_copies"))).alias("copy_idx"),
    )
    return emitted.select(
        "doc_id", "source", "n_copies", F.col("copy_idx").cast("long").alias("copy_idx")
    )


def _sql_upsample_mix() -> str:
    r = "1.0"
    for src, eps in UPSAMPLE_EPOCHS.items():
        r = f"CASE WHEN source = '{src}' THEN {float(eps)!r} ELSE {r} END"
    h = _PORTABLE_HASH.format(s="concat(CAST(doc_id AS VARCHAR), ':', 'up')")
    return f"""
WITH base AS (
  SELECT doc_id, source, {r} AS r FROM documents
),
cp AS (
  SELECT doc_id, source,
         CAST(floor(r) AS BIGINT)
           + CASE WHEN {h} < CAST(floor((r - floor(r)) * 4294967296.0) AS BIGINT)
                  THEN 1 ELSE 0 END AS n_copies
  FROM base
)
SELECT doc_id, source, n_copies,
       CAST(unnest(range(1, n_copies + 1)) AS BIGINT) AS copy_idx
FROM cp WHERE n_copies > 0
"""


def q_doc_subword_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-budget accounting: whitespace-word count vs BPE-ish
    pre-token count per doc plus their expansion ratio — the number a
    training-data planner multiplies by the corpus to size a token
    budget. Map-only (two regex extracts per row, no shuffle); the
    pattern is an RE2-safe subset so both engines extract the identical
    stream (functions.text.SUBWORD_PATTERN)."""
    d = _docs_with_tokens(spark, sf_dir)
    nws = TX.token_count(F.col("text")).cast("long")
    nsw = TX.subword_count(F.col("text")).cast("long")
    return d.select(
        "doc_id",
        nws.alias("n_ws_tokens"),
        nsw.alias("n_subwords"),
        round6(nsw.cast("double") / nws.cast("double")).alias("subword_ratio"),
    )


_SUBWORD_SQL = f"regexp_extract_all({_norm('text')}, '{TX.SUBWORD_PATTERN}')"

SQL_DOC_SUBWORD_STATS = f"""
SELECT doc_id,
       CAST(len({_TOKS}) AS BIGINT) AS n_ws_tokens,
       CAST(len({_SUBWORD_SQL}) AS BIGINT) AS n_subwords,
       {SQL_ROUND6.format(
    x=f"CAST(len({_SUBWORD_SQL}) AS DOUBLE) / CAST(len({_TOKS}) AS DOUBLE)"
)} AS subword_ratio
FROM documents
"""


def q_doc_token_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE-training iteration: the 20 most frequent ADJACENT
    pre-token pairs in the corpus (count desc, lexicographic tiebreak) —
    exactly the statistic one greedy merge round consumes. One explode
    over positions + one hash aggregate with map-side partials + a
    TakeOrdered — no sort of the pair space."""
    from .operators.bpe import adjacent_pair_counts

    d = _docs_with_tokens(spark, sf_dir)
    t = d.select("doc_id", TX.subword_tokens(F.col("text")).alias("t"))
    counts = adjacent_pair_counts(t)
    return top_k(
        counts, [F.col("n").desc(), F.col("a").asc(), F.col("b").asc()], 20
    )


SQL_TOKEN_PAIR_STATS = f"""
WITH s AS (SELECT doc_id, {_SUBWORD_SQL} AS t FROM documents),
p AS (SELECT unnest(range(1, len(t))) AS i, t FROM s WHERE len(t) >= 2),
pr AS (SELECT t[i] AS a, t[i + 1] AS b FROM p)
SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n
FROM pr GROUP BY a, b
ORDER BY n DESC, a ASC, b ASC LIMIT 20
"""


#: Sliding-chunk window geometry (tokens per chunk / stride).
CHUNK_TOKENS = 32
CHUNK_STRIDE = 24


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (the tokenize→chunk step every training
    pipeline runs): each document becomes ceil(max(n-W,0)/S)+1 chunks of
    W tokens at stride S (overlap W-S), each with a portable content
    fingerprint for chunk-level dedup/lineage. Map-only: one tokens
    pass, one integer sequence explode, array slices — no shuffle, no
    UDF; scales embarrassingly."""
    d = _docs_with_tokens(spark, sf_dir)
    toks = TX.tokens(F.col("text"))
    W, S = CHUNK_TOKENS, CHUNK_STRIDE
    t = d.select("doc_id", toks.alias("_t")).select(
        "doc_id",
        "_t",
        F.expr(
            f"(greatest(0, size(_t) - {W}) + {S} - 1) div {S}"
        ).alias("_extra"),
    )
    e = t.select(
        "doc_id",
        "_t",
        F.explode(F.sequence(F.lit(0), F.col("_extra"))).alias("chunk_idx"),
    )
    chunk = F.slice(F.col("_t"), F.col("chunk_idx") * S + 1, W)
    return e.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        TX.portable_hash(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


_CHUNK_HASH = _PORTABLE_HASH.format(
    s=f"array_to_string(list_slice(t, chunk_idx * {CHUNK_STRIDE} + 1, "
    f"chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}), ' ')"
)

SQL_DOC_CHUNKS = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
ex AS (
  SELECT doc_id, t,
         (GREATEST(0, len(t) - {CHUNK_TOKENS}) + {CHUNK_STRIDE} - 1)
           // {CHUNK_STRIDE} AS extra
  FROM toks
),
e AS (
  SELECT doc_id, t, unnest(range(0, extra + 1)) AS chunk_idx FROM ex
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(len(list_slice(t, chunk_idx * {CHUNK_STRIDE} + 1,
            chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS})) AS BIGINT)
         AS n_chunk_tokens,
       {_CHUNK_HASH} AS chunk_hash
FROM e
"""


def q_doc_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift per source: KL(source ‖ corpus) over
    unigram frequencies — the monitoring statistic that flags a crawl
    slice whose language distribution wandered from the corpus mix.
    Shape: one explode → per-(source,term) counts (map-side partials
    absorb the token fan-out) → join the per-term corpus counts (pre-
    aggregated: a hot term contributes ≤ n_sources join rows) → one
    per-source aggregate. Corpus totals ride a 1-row broadcast; the
    KL contribution sum is decimal-stable; identical IEEE expression
    shape on both engines. The (source, term) count table is STAGED
    (r07 — it feeds the marginals AND the join, and un-staged Catalyst
    re-derived the tokenize subtree four times): one documents scan,
    zero rescans past the bounded sources×vocab table."""
    from .operators.staging import stage

    st = _term_counts(_docs_with_tokens(spark, sf_dir), "source").transform(stage)
    s_tot = st.groupBy("source").agg(F.sum("tf").alias("n_s"))
    g = st.groupBy("term").agg(F.sum("tf").alias("c_t"))
    g_tot = g.agg(F.sum("c_t").alias("_n"))
    j = (
        st.join(g, "term")
        .join(F.broadcast(s_tot), "source")
        .crossJoin(F.broadcast(g_tot))
    )
    p = F.col("tf").cast("double") / F.col("n_s").cast("double")
    q = F.col("c_t").cast("double") / F.col("_n").cast("double")
    return j.groupBy("source").agg(
        F.max("n_s").alias("n_tokens"),
        F.round(stable_sum(p * F.log(p / q)), 6).alias("kl_vs_corpus"),
    )


SQL_DOC_SOURCE_DRIFT = f"""
WITH {_sql_term_counts('source')},
s_tot AS (SELECT source, CAST(SUM(tf) AS BIGINT) AS n_s FROM tf GROUP BY 1),
g AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS c_t FROM tf GROUP BY 1),
g_tot AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n FROM g),
j AS (
  SELECT tf.source, tf.tf, tf.term, g.c_t, s_tot.n_s, g_tot.n
  FROM tf JOIN g USING (term) JOIN s_tot USING (source) CROSS JOIN g_tot
)
SELECT source, MAX(n_s) AS n_tokens,
       round({_ssum(
    "(CAST(tf AS DOUBLE) / CAST(n_s AS DOUBLE)) * ln((CAST(tf AS DOUBLE) / CAST(n_s AS DOUBLE)) / (CAST(c_t AS DOUBLE) / CAST(n AS DOUBLE)))"
)}, 6) AS kl_vs_corpus
FROM j GROUP BY source
"""


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6-shaped pure scan-side aggregate: revenue delta from a
    hypothetical discount change over one year. Every predicate is a
    raw-column comparison, so ALL of them reach the parquet scan
    (PushedFilters + row-group stats pruning) — the query is a
    one-scan, zero-join, zero-shuffle-beyond-partials measurement of
    the pushdown path."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.04)
        & (F.col("l_quantity") < 24.0)
    )
    # price(2 dp) x discount(2 dp) is a 4-dp grid value: exact int64
    # grid sum (r12, functions.gridsum)
    return li.agg(
        grid_sum(F.col("l_extendedprice") * F.col("l_discount"), 4)
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


SQL_FORECAST_REVENUE = f"""
SELECT {_ssum('l_extendedprice * l_discount')} AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.02 AND 0.04
  AND l_quantity < 24.0
"""


def q_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-shaped EXISTS semi-join: orders from one quarter with at
    least one lineitem shipped after the order date, counted per
    priority. The EXISTS compiles to a LEFT SEMI join on orderkey with
    the date comparison as the join residual — each order is tested
    once, no fan-out, no distinct pass."""
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate),
        "semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


SQL_PRIORITY_COUNT = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
"""


def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-shaped returned-item report: revenue lost to returns
    per customer over one quarter, top-20. The `l_returnflag = 'R'` and
    order-date filters prune both fact scans (pushed to parquet), the
    lineitem⋈orders and orders⋈customer joins are co-keyed shuffles AQE
    can re-plan, nation is a broadcast dim, and the final ranking is a
    TakeOrdered — per-partition heaps, no global sort."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    agg = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(stable_sum(revenue).alias("revenue"))
    )
    return top_k(agg, [F.col("revenue").desc(), F.col("c_custkey").asc()], 20)


SQL_RETURNED_ITEMS = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       {_ssum('l_extendedprice * (1.0 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-04-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC LIMIT 20
"""


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14-shaped conditional-aggregate ratio: the share of one
    month's revenue that came from promo-type parts. One co-keyed join
    (the ship-date filter prunes the lineitem scan first), then a single
    hash aggregate where the promo split is a CASE inside the sum — no
    second pass, no self-join. Both sums are decimal-stable; the final
    ratio uses the portable floor-form rounding (a rational of two
    exactly-reproducible doubles)."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-02-01").cast("timestamp"))
    )
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0))
    agg = (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            # 4-dp-grid sums (r12, functions.gridsum), incl. the CASE's 0.0
            grid_sum(promo, 4).alias("_promo"),
            grid_sum(disc, 4).alias("_total"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
    return agg.select(
        round6(F.lit(100.0) * F.col("_promo") / F.col("_total")).alias(
            "promo_share_pct"
        ),
        "n_items",
    )


_PROMO_RATIO = (
    "100.0 * "
    + _ssum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")
    + " / "
    + _ssum("l_extendedprice * (1.0 - l_discount)")
)

SQL_PROMO_REVENUE = f"""
SELECT {SQL_ROUND6.format(x=_PROMO_RATIO)} AS promo_share_pct,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1997-02-01'
"""


def q_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15-shaped argmax join: per-supplier revenue over one
    quarter, returning the supplier(s) hitting the maximum. The revenue
    aggregate is one co-keyed hash agg; the max rides back as a 1-row
    broadcast (scalar-subquery decorrelation done by hand, which is
    exactly what Catalyst does to `= (SELECT max(...))`); the supplier
    name is a broadcast dim enrichment. Equality on the decimal-summed
    double is exact — both engines produce the identical bits. The
    supplier-dim revenue table is STAGED (r07): it feeds the max AND
    the filter, and un-staged Catalyst re-ran the quarter aggregate —
    two full fact scans for one scalar."""
    from .operators.staging import stage

    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    rev = li.groupBy("l_suppkey").agg(
        stable_sum(revenue).alias("total_revenue")
    ).transform(stage)
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    supp = load_table(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("_mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


SQL_TOP_REVENUE_SUPPLIER = f"""
WITH rev AS (
  SELECT l_suppkey, {_ssum('l_extendedprice * (1.0 - l_discount)')} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
"""


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17-shaped decorrelated per-group threshold: average yearly
    revenue lost if small orders (below half the part's mean quantity)
    were not taken. The correlated `l_quantity < 0.5 * (SELECT avg ...)`
    decorrelates into a WINDOW over l_partkey (r07 — the
    aggregate-joined-back form scanned lineitem twice; the window moves
    the same rows through the same partkey shuffle with ONE scan and no
    join). The threshold avg is decimal-window-sum / count so the
    comparison operand is bit-identical across engines."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey")
    avg_qty = (
        grid_sum_over(F.col("l_quantity"), w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    j = li.withColumn("_avg_qty", avg_qty).where(
        F.col("l_quantity") < F.lit(0.5) * F.col("_avg_qty")
    )
    return j.agg(
        F.round(
            grid_sum(F.col("l_extendedprice"), 2) / F.lit(7.0), 6
        ).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_small"),
    )


SQL_SMALL_QUANTITY_REVENUE = f"""
WITH pp AS (
  SELECT l_partkey, {_ssum('l_quantity')} / COUNT(*) AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT round({_ssum('l_extendedprice')} / 7.0, 6) AS avg_yearly,
       CAST(COUNT(*) AS BIGINT) AS n_small
FROM lineitem JOIN pp USING (l_partkey)
WHERE l_quantity < 0.5 * avg_qty
"""


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18-shaped having-gate join: customers who placed orders
    totalling > 300 units. The quantity gate is one hash aggregate over
    lineitem; only gated orderkeys (a tiny fraction) flow into the
    orders/customer joins, so the expensive side is filtered before any
    wide join — the `HAVING` is evaluated as early as the plan allows.
    Top-20 by total price is a TakeOrdered."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(grid_sum(F.col("l_quantity"), 0).alias("sum_qty"))
        .where(F.col("sum_qty") > 300.0)
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "l_orderkey",
            F.expr("unix_micros(cast(o_orderdate as timestamp)) div 1000000").alias(
                "order_epoch_s"
            ),
            "o_totalprice",
            "sum_qty",
        )
    )
    return top_k(j, [F.col("o_totalprice").desc(), F.col("l_orderkey").asc()], 20)


SQL_LARGE_ORDERS = f"""
WITH big AS (
  SELECT l_orderkey, {_ssum('l_quantity')} AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING {_ssum('l_quantity')} > 300.0
)
SELECT c_name, c_custkey, l_orderkey,
       epoch_us(o_orderdate) // 1000000 AS order_epoch_s,
       o_totalprice, sum_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, l_orderkey ASC LIMIT 20
"""


def q_brand_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19-shaped disjunctive-predicate join: revenue from three
    OR'd (brand, size-range, quantity-range) combinations. Catalyst
    factors the part-only conjuncts out of the disjunction and pushes
    `(brand=A AND size...) OR (brand=B AND size...) OR ...` down to the
    part scan, so the join build side only carries parts that can match
    at all; the quantity half of each disjunct stays as the join
    residual. One scan each side, one aggregate."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    j = li.join(part, li.l_partkey == part.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#4")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1.0, 20.0)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10.0, 30.0)
        )
        | (
            (F.col("p_brand") == "Brand#19")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20.0, 40.0)
        )
    )
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return j.where(cond).agg(
        stable_sum(revenue).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


SQL_BRAND_DISCOUNT_REVENUE = f"""
SELECT {_ssum('l_extendedprice * (1.0 - l_discount)')} AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1.0 AND 20.0)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10.0 AND 30.0)
   OR (p_brand = 'Brand#19' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 20.0 AND 40.0)
"""


def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22-shaped anti-join with a scalar-subquery gate: customers
    whose balance beats the positive-balance average but who placed no
    order since 1999 (the churned-high-value segment), counted per
    market segment. The global average is a 1-row broadcast (the
    decorrelated scalar subquery); the "no recent order" test is a
    shuffle anti-join on custkey (NOT EXISTS, no count trick) whose
    probe side is pre-pruned by the pushed-down date filter; the segment
    profile is a 5-row aggregate. Decimal-stable balance sums."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    )
    avg_bal = cust.where(F.col("c_acctbal") > 0.0).agg(
        # 2-dp-grid balance (can be negative; the grid split floors
        # correctly) -> exact int64 grid sum (r12, functions.gridsum)
        (grid_sum(F.col("c_acctbal"), 2) / F.count(F.lit(1))).alias("_avg")
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).where(
        F.col("c_acctbal") > F.col("_avg")
    )
    idle = rich.join(
        orders, rich.c_custkey == orders.o_custkey, "anti"
    )
    return idle.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_custs"),
        grid_sum(F.col("c_acctbal"), 2).alias("total_acctbal"),
    )


SQL_IDLE_RICH_CUSTOMERS = f"""
WITH avg_bal AS (
  SELECT {_ssum('c_acctbal')} / COUNT(*) AS a
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_custs,
       {_ssum('c_acctbal')} AS total_acctbal
FROM customer, avg_bal
WHERE c_acctbal > avg_bal.a
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY c_mktsegment
"""


def q_doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model-proxy quality score (CCNet-style): per-doc mean
    unigram log-probability under the corpus's own smoothed unigram LM,
    ln((c_term + 1) / (total_tokens + |V|)). Low scorers are gibberish /
    off-distribution docs — the statistical complement of the rule-based
    Gopher gate.

    Shape: token explode → per-(doc,term) tf → global term counts → one
    equi-join on term (tf is pre-aggregated, so a hot term contributes
    at most n_docs join rows — AQE-skew territory, not a blowup) → one
    per-doc aggregate. The corpus totals ride a 1-row broadcast. The
    log-prob sum goes through decimal (order-independent) like every
    other double sum in this module; at real scale the vocab join would
    be capped to a top-V table, noted here as the tuning knob. The tf
    table is STAGED (r07 — it feeds the term counts AND the join, and
    un-staged Catalyst re-derived the tokenize subtree three times):
    one documents scan, zero rescans past the aggregated tf."""
    from .operators.staging import stage

    tf = _term_counts(_docs_with_tokens(spark, sf_dir), "doc_id").transform(stage)
    counts = tf.groupBy("term").agg(F.sum("tf").alias("c"))
    totals = counts.agg(
        F.sum("c").alias("_total"), F.count(F.lit(1)).alias("_v")
    )
    j = tf.join(counts, "term").crossJoin(F.broadcast(totals))
    logp = F.log((F.col("c") + F.lit(1.0)) / (F.col("_total") + F.col("_v")))
    return _mean_logprob(j, logp, "n_tokens", "avg_logprob")


SQL_UNIGRAM_LOGPROB = f"""
WITH {_sql_term_counts('doc_id')},
counts AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS c FROM tf GROUP BY term),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS v FROM counts),
j AS (
  SELECT tf.doc_id, tf.tf, counts.c, tot.total, tot.v
  FROM tf JOIN counts USING (term) CROSS JOIN tot
)
{_sql_mean_logprob('ln((c + 1.0) / (total + v))', 'n_tokens', 'avg_logprob')}
"""


def q_emb_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 principal-component projection of the embedding corpus
    (operators.pca): the distributed pass is the d x d gram aggregate,
    the eigen solve is driver-side metadata, the projection map-only.
    No SQL oracle — DuckDB has no eigen solver; accuracy is pinned by
    tests/test_pca.py numpy-parity properties (the same contract as the
    ANN recall tests), so the driver records a rows-only check."""
    from .operators.pca import fit_pca, project

    emb = _emb(spark, sf_dir)
    comps, _var, mean = fit_pca(emb, k=2)
    out = project(emb, comps, mean)
    return out.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.round(F.col("pca")[0], 6).alias("pc1"),
        F.round(F.col("pca")[1], 6).alias("pc2"),
    )


def q_emb_pca_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial SQL oracle for the PCA eigensolve (r11 VERDICT ask #4):
    the eigendecomposition itself is un-SQL-able, but its INVARIANTS
    are not. This query fits the FULL spectrum (k = d) with the same
    operators.pca path q_emb_pca uses, then emits one row of checks:

    * ``trace6`` — the covariance trace computed PORTABLY (per-dim
      decimal sums of IEEE products over a posexplode, variance with
      brand_price_ols parenthesization, cross-dim sum decimal-cast so
      no float addition order exists) — the DuckDB twin computes the
      identical expression, so this column is a genuinely
      dual-computed hash-matched value;
    * ``eigsum_matches_trace`` — Σλ (all d eigenvalues, driver
      metadata) equals the portable trace within 1e-6 relative: the
      linear-algebra identity trace(C) = Σλ pins the eigensolve's
      spectrum sum to a plain SQL aggregate;
    * ``eigs_nonnegative`` / ``eigs_descending`` — covariance is PSD,
      eigh output ordered (tolerance 1e-9·trace for float noise);
    * ``components_orthonormal`` — max |V·Vᵀ − I| ≤ 1e-6 over the
      returned component matrix (the Gram residual the VERDICT names).

    The oracle emits TRUE for the four invariant columns: a violated
    invariant flips the Spark value and the driver's hash compare
    fails — the CHECK-constraint oracle pattern. Scale: the spectrum
    is d×d driver metadata (operators/pca.py step 2); the corpus-sized
    work is the gram pass inside fit_pca plus this query's ONE
    posexplode aggregate — both single-pass, map-side combined."""
    import numpy as np

    from .operators.pca import fit_pca

    emb = _emb(spark, sf_dir)
    head = emb.select("embedding").take(2)
    if len(head) < 2:  # fit_pca needs >= 2 rows; oracle HAVING mirrors
        return _typed_empty(
            spark,
            "dim int, n_vecs bigint, trace6 double,"
            " eigsum_matches_trace boolean, eigs_nonnegative boolean,"
            " eigs_descending boolean, components_orthonormal boolean",
        )
    dim = len(head[0][0])
    comps, vals, _mean = fit_pca(emb, k=dim)

    xs = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "x"
        )
    )
    g = xs.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec("x")).alias("_s"),
        F.sum(dec(F.col("x") * F.col("x"))).alias("_s2"),
    )
    n = F.col("n").cast("double")
    var_j = (F.col("_s2").cast("double") / n) - (
        F.col("_s").cast("double") / n
    ) * (F.col("_s").cast("double") / n)
    trace_df = g.agg(
        F.count(F.lit(1)).cast("int").alias("dim"),
        F.max("n").alias("n_vecs"),
        stable_sum(var_j).alias("_tr"),
    )
    # bounded driver metadata (1 row) — the kmeans-centroid convention
    trace_row = trace_df.first()
    trace = float(trace_row["_tr"])
    eigsum = float(vals.sum())
    tol = 1e-9 * max(abs(trace), 1.0)
    eigsum_ok = abs(eigsum - trace) <= 1e-6 * max(abs(trace), 1e-12)
    nonneg = bool((vals >= -tol).all())
    descending = bool((np.diff(vals) <= tol).all())
    gram_resid = float(np.abs(comps @ comps.T - np.eye(dim)).max())
    ortho = gram_resid <= 1e-6
    return trace_df.select(
        "dim",
        "n_vecs",
        round6(F.col("_tr")).alias("trace6"),
        F.lit(bool(eigsum_ok)).alias("eigsum_matches_trace"),
        F.lit(nonneg).alias("eigs_nonnegative"),
        F.lit(descending).alias("eigs_descending"),
        F.lit(bool(ortho)).alias("components_orthonormal"),
    )


SQL_EMB_PCA_INVARIANTS = f"""
WITH xs AS (
  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
g AS (
  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
         {_ssum('x')} AS s, {_ssum('x * x')} AS s2
  FROM xs GROUP BY dim
),
v AS (
  SELECT n, (s2 / CAST(n AS DOUBLE)) -
         (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)) AS var_j
  FROM g
)
SELECT CAST(COUNT(*) AS INT) AS dim, MAX(n) AS n_vecs,
       {SQL_ROUND6.format(x=_ssum('var_j'))} AS trace6,
       TRUE AS eigsum_matches_trace, TRUE AS eigs_nonnegative,
       TRUE AS eigs_descending, TRUE AS components_orthonormal
FROM v
HAVING COUNT(*) > 0 AND MAX(n) >= 2
"""


#: End-to-end curation keep-rate after quality + dedup gates.
CURATION_SAMPLE_RATE = 0.8


def q_doc_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation decision, composed from verified pieces:
    keep a doc iff it (1) passes the Gopher rule gate, (2) is the
    canonical member of its near-dup component (MinHash-LSH pairs →
    connected components → min-id canonical; unpaired docs are their own
    canonical), and (3) survives the deterministic hash downsample. One
    lineage row per doc with each gate's verdict — the audit table a
    production curation run publishes next to the kept corpus.

    Scale = the max of its parts, all individually bounded: the gopher
    gate is map-only, the pair/component stage is candidate-bounded
    (see operators/dedup.py, operators/graph.py), the sample predicate
    is map-only, and the final assembly is one left join on doc_id."""
    from .operators.graph import connected_components

    d = _docs_with_tokens(spark, sf_dir)
    g = q_doc_gopher_quality(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("gopher_ok")
    )
    # the component id IS the smallest node id of the component
    canon_flag = connected_components(DD.minhash_lsh_pairs(d)).select(
        F.col("node").alias("doc_id"),
        (F.col("node") == F.col("component")).alias("_canon"),
    )
    sampled = TX.portable_hash(F.col("doc_id").cast("string")) < F.lit(
        int(CURATION_SAMPLE_RATE * (1 << 32))
    )
    out = g.join(canon_flag, "doc_id", "left").select(
        "doc_id",
        "gopher_ok",
        F.coalesce(F.col("_canon"), F.lit(True)).alias("is_canonical"),
        sampled.alias("sampled"),
    )
    return out.withColumn(
        "kept",
        F.col("gopher_ok") & F.col("is_canonical") & F.col("sampled"),
    )


def _sql_curation_pipeline() -> str:
    h = _PORTABLE_HASH.format(s="CAST(g.doc_id AS VARCHAR)")
    thresh = int(CURATION_SAMPLE_RATE * (1 << 32))
    return f"""
WITH gq AS ({_sql_gopher_quality()}),
comp AS ({_sql_neardup_components()}),
canon AS (SELECT component, MIN(doc_id) AS cid FROM comp GROUP BY component),
cf AS (
  SELECT comp.doc_id, comp.doc_id = canon.cid AS is_c
  FROM comp JOIN canon USING (component)
)
SELECT g.doc_id, g.keep AS gopher_ok,
       COALESCE(cf.is_c, TRUE) AS is_canonical,
       ({h} < {thresh}) AS sampled,
       (g.keep AND COALESCE(cf.is_c, TRUE) AND ({h} < {thresh})) AS kept
FROM gq g LEFT JOIN cf ON cf.doc_id = g.doc_id
"""


def q_doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing with a hard oracle row. The driver's synthetic
    corpus contains no PII (no '@', digits, or URLs — PARITY.md), so
    this query first derives a PII-bearing column deterministically
    from each doc (doc_id-keyed email/URL/IPv4/phone concatenated onto
    a 40-char text prefix) and then exercises the real scrubber
    surface end-to-end: per-kind match counts on the original
    (functions.text.pii_counts) plus the ordered redaction chain
    (functions.text.redact_pii). Pure Catalyst regexp — map-only, no
    UDF, no shuffle; at 100 TB this is an embarrassingly parallel
    scan. The injected shapes intentionally interact (an IPv4 long
    enough also matches the phone pattern in the count pass), so the
    counts vary per doc and pin cross-engine regex semantics, not just
    the happy path."""
    d = _docs_with_tokens(spark, sf_dir)
    sid = F.col("doc_id").cast("string")
    pii_text = F.concat(
        F.substring("text", 1, 40),
        F.lit(" reach me at user"), sid,
        F.lit("@mail.example or https://ex"), sid,
        F.lit(".example/a?x=1 ip 10.2."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".9 call +3804412345"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
    )
    staged = d.select("doc_id", pii_text.alias("_pii"))
    c = TX.pii_counts(F.col("_pii"))
    return staged.select(
        "doc_id",
        c.getField("email").alias("n_email"),
        c.getField("url").alias("n_url"),
        c.getField("ipv4").alias("n_ip"),
        c.getField("phone").alias("n_phone"),
        TX.redact_pii(F.col("_pii")).alias("redacted"),
    )


def _sql_pii_scrub() -> str:
    """Oracle twin built from the SAME PII_PATTERNS tuples the Spark
    side uses (single source of truth; the patterns are RE2-safe —
    no backrefs/lookarounds — so Java regex and DuckDB RE2 agree)."""
    pats = {name: pat for name, pat, _ in TX.PII_PATTERNS}
    red = "s"
    for _name, pat, repl in TX.PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    return f"""
WITH p AS (
  SELECT doc_id,
    substr(text, 1, 40) || ' reach me at user' || CAST(doc_id AS VARCHAR)
      || '@mail.example or https://ex' || CAST(doc_id AS VARCHAR)
      || '.example/a?x=1 ip 10.2.' || CAST(doc_id % 256 AS VARCHAR)
      || '.9 call +3804412345' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS s
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(s, '{pats["email"]}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(s, '{pats["url"]}')) AS BIGINT) AS n_url,
  CAST(len(regexp_extract_all(s, '{pats["ipv4"]}')) AS BIGINT) AS n_ip,
  CAST(len(regexp_extract_all(s, '{pats["phone"]}')) AS BIGINT) AS n_phone,
  {red} AS redacted
FROM p
"""


def q_doc_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier TRAINING as a query (operators.logreg): full-batch
    logistic regression distilling a noisy rule-based quality gate into
    a linear scorer — the quality-filter training workload
    (fastText-style) as DataFrame aggregates. The driver's synthetic
    corpus has no learnable natural label (lang/source are uncorrelated
    with text, verified), so the ground truth is a DETERMINISTIC noisy
    linear rule over raw text statistics (3·distinct_ratio +
    5·stopword_ratio + 0.4·hash_noise > 2.0 — ~43% positive, learnable
    to ~88%, not memorizable thanks to the hash-noise term); what the
    query demonstrates is the distributed trainer: ten GD passes with
    decimal-summed, 6-decimal-quantized gradients whose learned weights
    — and every per-doc probability — are bit-identical to the
    oracle's ten unrolled CTE layers. Output per doc: label, predicted
    probability, ≥ 0.5 decision."""
    from .operators.logreg import logistic_regression_gd, predict_proba
    from .operators.staging import stage

    d = _docs_with_tokens(spark, sf_dir)
    t = TX.tokens(F.col("text"))
    staged = d.select("doc_id", t.alias("_t"))
    nt = F.size("_t")
    distinct_ratio = F.when(nt == 0, F.lit(0.0)).otherwise(
        F.size(F.array_distinct("_t")) / nt
    )
    sw_ratio = TX.stopword_ratio(F.col("_t"))
    u = TX.portable_hash(F.col("doc_id").cast("string")) / F.lit(4294967296.0)
    label_score = (
        F.lit(3.0) * distinct_ratio + F.lit(5.0) * sw_ratio + F.lit(0.4) * u
    )
    # the narrow feature frame is staged once: training runs
    # LOGREG_ITERS aggregate passes over it, and re-deriving the token
    # lambdas per pass would dominate
    f = stage(
        staged.select(
            "doc_id",
            F.when(label_score > 2.0, F.lit(1.0)).otherwise(F.lit(0.0)).alias("y"),
            F.lit(1.0).alias("f0"),
            round6(F.least(nt / F.lit(100.0), F.lit(1.0))).alias("f1"),
            round6(distinct_ratio).alias("f2"),
            round6(sw_ratio).alias("f3"),
        )
    )
    cols = ["f0", "f1", "f2", "f3"]
    w, _ = logistic_regression_gd(f, cols)
    p = predict_proba(cols, w)
    return f.select(
        "doc_id",
        F.col("y").alias("label"),
        p.alias("prob"),
        (p >= 0.5).alias("predicted"),
    )


def _sql_quality_classifier() -> str:
    toks = _TOKS
    r6 = SQL_ROUND6
    d = 4
    sw = _sw_sql(TX.QUALITY_STOPWORDS)
    dr = (
        "(CASE WHEN len(t) = 0 THEN 0.0 ELSE "
        "CAST(len(list_distinct(t)) AS DOUBLE) / len(t) END)"
    )
    swr = (
        "(CASE WHEN len(t) = 0 THEN 0.0 ELSE "
        f"CAST(len(list_filter(t, x -> list_contains({sw}, x))) AS DOUBLE)"
        " / len(t) END)"
    )
    u = f"({_PORTABLE_HASH.format(s='CAST(doc_id AS VARCHAR)')} / 4294967296.0)"
    label = f"CASE WHEN 3.0 * {dr} + 5.0 * {swr} + 0.4 * {u} > 2.0 THEN 1.0 ELSE 0.0 END"
    feat_exprs = [
        "1.0 AS f0",
        f"{r6.format(x='least(CAST(len(t) AS DOUBLE) / 100.0, 1.0)')} AS f1",
        f"{r6.format(x=dr)} AS f2",
        f"{r6.format(x=swr)} AS f3",
    ]

    def z() -> str:
        e = "0.0"
        for j in range(d):
            e = f"{e} + w.w{j} * f.f{j}"
        return e

    def sig() -> str:
        return f"1.0 / (1.0 + exp(-({z()})))"

    # f and every w{i} are MATERIALIZED: each gradient step reads f,
    # and each step reads the previous weights twice (gradient and
    # update). Inlined, DuckDB recomputed the features per step and the
    # weight chain grew twofold per step (over 100x slower).
    layers = [
        f"toks AS (SELECT doc_id, {toks} AS t FROM documents)",
        f"f AS MATERIALIZED (SELECT doc_id, {label} AS y, "
        + ", ".join(feat_exprs)
        + " FROM toks)",
        "n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM f)",
        "w0 AS (SELECT " + ", ".join(f"0.0 AS w{j}" for j in range(d)) + ")",
    ]
    for i in range(1, LOGREG_ITERS + 1):
        perr = f"({r6.format(x=sig())} - f.y)"
        gsel = ", ".join(
            "CAST(CAST(SUM(CAST("
            + r6.format(x=f"{perr} * f.f{j}")
            + f" AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS g{j}"
            for j in range(d)
        )
        layers.append(f"g{i} AS (SELECT {gsel} FROM f CROSS JOIN w{i - 1} w)")
        wsel = ", ".join(
            r6.format(x=f"w.w{j} - {LOGREG_LR!r} * " + r6.format(x=f"g.g{j} / n.n"))
            + f" AS w{j}"
            for j in range(d)
        )
        layers.append(
            f"w{i} AS MATERIALIZED"
            f" (SELECT {wsel} FROM w{i - 1} w CROSS JOIN g{i} g CROSS JOIN n)"
        )
    prob = r6.format(x=sig())
    return (
        "WITH "
        + ",\n".join(layers)
        + f"\nSELECT f.doc_id, f.y AS label, {prob} AS prob,"
        + f" {prob} >= 0.5 AS predicted FROM f CROSS JOIN w{LOGREG_ITERS} w"
    )


def q_doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc n-gram novelty: the fraction of a doc's distinct word
    3-grams that appear in NO other document — the inter-document
    complement of doc_repetition_filter (intra-doc spam) and the
    memorization-risk / contribution signal curation runs rank docs by
    (a doc of all-unique grams adds new text; a doc of common grams is
    boilerplate). Shape: ONE shingle explode — the per-gram df comes
    from a WINDOW over the exploded grams rather than an aggregate
    joined back (the join form re-derived the tokenize+shingle subtree
    twice — r07 single-scan fix, same move as doc_token_entropy) —
    then one per-doc aggregate. The 0/1 mean sums small integers
    exactly in double, so no decimal staging is needed — only the
    final rational gets the portable floor-round."""
    from pyspark.sql import Window

    d = _docs_with_tokens(spark, sf_dir)
    g = d.select(
        "doc_id",
        F.explode(TX.word_ngrams(TX.tokens(F.col("text")), 3)).alias("g"),
    )
    g = g.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("g"))
    )
    return (
        g.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            round6(F.avg((F.col("df") == 1).cast("double"))).alias("novelty"),
        )
    )


def _sql_doc_novelty() -> str:
    shingles = _SHINGLES.format(t=_TOKS)
    return f"""
WITH g AS (
  SELECT doc_id, unnest({shingles}) AS g FROM documents
),
dfq AS (SELECT g, COUNT(*) AS df FROM g GROUP BY g)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
       {SQL_ROUND6.format(x='AVG(CASE WHEN df = 1 THEN 1.0 ELSE 0.0 END)')} AS novelty
FROM g JOIN dfq USING (g)
GROUP BY doc_id
"""


def q_doc_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML→text extraction (functions.web.html_to_text) — the step
    between crawled HTML and the text operators.
    Deterministic HTML is derived per doc (head/title, style+script
    blocks, a comment, entity-encoded text) and extracted; the entity
    cases pin the order contract (tags strip BEFORE entities decode, so
    '&lt;i&gt;' survives as the literal text '<i>'). Map-only regexp
    chain at any scale."""
    from .functions.web import html_to_text

    d = _docs_with_tokens(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><head><title>T"), did,
        F.lit(
            "</title><style>p{color:red}</style><script>var x=1;"
            "</script></head><body><h1>Doc "
        ),
        did, F.lit("</h1><p>"), F.substring("text", 1, 80),
        F.lit("</p><!-- hidden --><p>B &amp; C &lt;i&gt;</p></body></html>"),
    )
    staged = d.select("doc_id", html.alias("_html"))
    ext = html_to_text(F.col("_html"))
    return staged.select(
        "doc_id",
        ext.alias("text"),
        F.size(TX.tokens(ext)).cast("long").alias("n_tokens"),
    )


def _sql_html_extract() -> str:
    from .functions.web import sql_html_to_text

    html = (
        "'<html><head><title>T' || CAST(doc_id AS VARCHAR) || "
        "'</title><style>p{color:red}</style><script>var x=1;"
        "</script></head><body><h1>Doc ' || CAST(doc_id AS VARCHAR) || "
        "'</h1><p>' || substr(text, 1, 80) || "
        "'</p><!-- hidden --><p>B &amp; C &lt;i&gt;</p></body></html>'"
    )
    return f"""
WITH h AS (SELECT doc_id, {html} AS html FROM documents),
e AS (SELECT doc_id, {sql_html_to_text()} AS text FROM h)
SELECT doc_id, text, CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM e
"""


def q_neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the MinHash-LSH near-duplicate graph
    (operators.graph) — which documents sit at the center of big
    duplication clusters (the doc a keep-the-canonical policy should
    prefer, and the one whose removal breaks the most duplicate paths).
    Fixed 3-sweep iteration, decimal-summed 6-decimal states, so the
    result hash-matches the unrolled SQL twin exactly."""
    from .operators.graph import pagerank

    pairs = DD.minhash_lsh_pairs(_docs_with_tokens(spark, sf_dir))
    pr = pagerank(pairs)
    return pr.select(
        F.col("node").alias("doc_id"),
        F.col("deg").cast("long").alias("deg"),
        "rank",
    )


def _sql_pagerank_chain(pairs_ctes: str, out_col: str) -> str:
    """Unrolled PageRank CTE chain over any ``pairs(id_a, id_b)`` CTE
    block — shared by the near-dup-graph and token-graph (TextRank)
    oracles so both stay bit-faithful to operators.graph.pagerank."""
    from .operators.graph import DAMPING

    d = repr(DAMPING)
    tele = repr(1.0 - DAMPING)  # the Python-computed double, verbatim
    r6 = SQL_ROUND6
    layers = [
        f"""
{pairs_ctes},
sym AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
deg AS (SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY a),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
r0 AS (SELECT node, deg, {r6.format(x='1.0 / nn.n')} AS rank FROM deg, nn)"""
    ]
    for i in range(1, PAGERANK_ITERS + 1):
        layers.append(
            f"""
c{i} AS (
  SELECT s.b AS node,
         CAST(CAST(SUM(CAST({r6.format(x='p.rank / p.deg')} AS DECIMAL(18,6)))
              AS VARCHAR) AS DOUBLE) AS s
  FROM sym s JOIN r{i - 1} p ON s.a = p.node GROUP BY s.b
),
r{i} AS (
  SELECT dd.node, dd.deg,
         {r6.format(x=f'{tele} / nn.n + {d} * COALESCE(c.s, 0.0)')} AS rank
  FROM deg dd CROSS JOIN nn LEFT JOIN c{i} c ON c.node = dd.node
)"""
        )
    return (
        "WITH " + ",".join(layers)
        + f"\nSELECT node AS {out_col}, deg, rank FROM r{PAGERANK_ITERS}"
    )


def _sql_neardup_pagerank() -> str:
    return _sql_pagerank_chain(
        f"pairs AS (SELECT id_a, id_b FROM ({_sql_minhash_lsh()}) q)",
        "doc_id",
    )


#: temperature for mixture re-weighting (the mT5/XLM-R value)
MIXTURE_ALPHA = 0.3


def q_doc_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture weights (mT5 §3.1 / XLM-R style): per
    language, token share p = tokens_lang / tokens_total and sampling
    weight w ∝ p^α (α = 0.3) — the standard recipe that upsamples
    low-resource slices of a multilingual pretraining mix. ``boost`` is
    w/p, the implied up/downsampling factor a sampler feeds into
    weighted_hash_sample.

    Cross-engine determinism: integer token counts divide exactly; the
    only transcendental (p^α) is rounded to 6 decimals BEFORE the
    normalizing sum, and that sum runs in decimal — so the denominator
    is order-independent and bit-equal across engines, not a float sum
    race. Two tiny aggregates + a 1-row broadcast — corpus size only
    affects the first map-side count."""
    from .operators.staging import stage

    d = _docs_with_tokens(spark, sf_dir)
    # STAGED (r07): the ≤|langs|-row profile feeds the total, the score
    # projection, AND the denominator — un-staged Catalyst re-derived
    # the tokenize aggregate four times. One documents scan, period.
    per = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(TX.tokens(F.col("text")))).cast("long").alias("n_tokens"),
    ).transform(stage)
    tot = per.agg(F.sum("n_tokens").cast("long").alias("_tot"))
    p = F.col("n_tokens").cast("double") / F.col("_tot").cast("double")
    scored = per.crossJoin(F.broadcast(tot)).select(
        "lang", "n_docs", "n_tokens",
        round6(p).alias("share"),
        round6(F.pow(p, F.lit(MIXTURE_ALPHA))).alias("_a6"),
        p.alias("_p"),
    )
    denom = scored.agg(
        F.sum(F.col("_a6").cast("decimal(18,6)")).cast("double").alias("_den")
    )
    return (
        scored.crossJoin(F.broadcast(denom))
        .select(
            "lang", "n_docs", "n_tokens", "share",
            round6(F.col("_a6") / F.col("_den")).alias("weight"),
            round6(F.col("_a6") / F.col("_den") / F.col("_p")).alias("boost"),
        )
    )


def _sql_mixture_weights() -> str:
    toks = _TOKS
    return f"""
WITH per AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len({toks})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM per),
scored AS (
  SELECT lang, n_docs, n_tokens,
         {SQL_ROUND6.format(x='CAST(n_tokens AS DOUBLE) / CAST(t AS DOUBLE)')} AS share,
         {SQL_ROUND6.format(x=f'pow(CAST(n_tokens AS DOUBLE) / CAST(t AS DOUBLE), {MIXTURE_ALPHA})')} AS a6,
         CAST(n_tokens AS DOUBLE) / CAST(t AS DOUBLE) AS p
  FROM per, tot
),
den AS (
  SELECT CAST(CAST(SUM(CAST(a6 AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS d
  FROM scored
)
SELECT lang, n_docs, n_tokens, share,
       {SQL_ROUND6.format(x='a6 / d')} AS weight,
       {SQL_ROUND6.format(x='a6 / d / p')} AS boost
FROM scored, den
"""


def q_doc_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (functions.web.normalize_url) with a hard
    oracle row: the corpus has no URL column, so four deterministic
    messy-URL shapes are derived from doc_id (cased scheme/host,
    default ports, fragments, tracking params, shuffled param order,
    plus a non-URL passthrough) and canonicalized — the crawl-dedup
    preprocessing step. Pure Catalyst regexp/array expressions,
    map-only at any scale."""
    from .functions.web import normalize_url

    d = _docs_with_tokens(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 4
    url = (
        F.when(
            m == 0,
            F.concat(
                F.lit("HTTP://Site"), did, F.lit(".Example:80/Path/"), did,
                F.lit("?b=2&utm_source=x&a=1#frag"),
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit("https://site"), did, F.lit(".example:443/p?z=9&fbclid=abc"),
                did, F.lit("&y=8"),
            ),
        )
        .when(m == 2, F.concat(F.lit("https://site"), did, F.lit(".example/p")))
        .otherwise(F.concat(F.lit("not a url "), did))
    )
    staged = d.select("doc_id", url.alias("url"))
    return staged.select(
        "doc_id", "url", normalize_url(F.col("url")).alias("canon_url")
    )


def _sql_url_normalize() -> str:
    from .functions.web import sql_normalize_url

    return f"""
WITH u AS (
  SELECT doc_id,
    CASE doc_id % 4
      WHEN 0 THEN 'HTTP://Site' || CAST(doc_id AS VARCHAR) || '.Example:80/Path/'
                  || CAST(doc_id AS VARCHAR) || '?b=2&utm_source=x&a=1#frag'
      WHEN 1 THEN 'https://site' || CAST(doc_id AS VARCHAR)
                  || '.example:443/p?z=9&fbclid=abc' || CAST(doc_id AS VARCHAR) || '&y=8'
      WHEN 2 THEN 'https://site' || CAST(doc_id AS VARCHAR) || '.example/p'
      ELSE 'not a url ' || CAST(doc_id AS VARCHAR)
    END AS url
  FROM documents
)
SELECT doc_id, url, {sql_normalize_url()} AS canon_url FROM u
"""


#: rounded-max-cosine threshold above which a corpus vector counts as
#: semantically contaminated by the probe (benchmark) set
EMB_DECONTAMINATE_TAU = 0.2


def q_emb_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination (operators.similarity.probe_max_sim):
    vectors vec_id % 50 == 1 stand in for a benchmark suite's
    embeddings; every other corpus vector reports its max cosine to any
    probe and is flagged when the rounded max reaches
    EMB_DECONTAMINATE_TAU — the embedding-space complement of the
    n-gram doc_decontaminate gate. Probe set collected once as driver
    metadata (the kmeans-centroid pattern, same as emb_pq codebooks);
    scoring is map-only against a literal probe matrix — no join, no
    shuffle."""
    emb = _emb(spark, sf_dir)
    probes = [
        [float(x) for x in r.embedding]
        for r in load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") % 50 == 1)
        .orderBy("vec_id")
        .collect()
    ]
    if not probes:
        # the oracle CROSS JOINs the probe CTE, so zero probes means 0
        # rows whatever the corpus holds — match that, don't refuse
        return _typed_empty(
            spark, "vec_id long, max_probe_sim double, contaminated boolean"
        )
    corpus = emb.where(F.col("vec_id") % 50 != 1)
    scored = SIM.probe_max_sim(corpus, probes)
    return scored.select(
        "vec_id",
        "max_probe_sim",
        (F.col("max_probe_sim") >= EMB_DECONTAMINATE_TAU).alias("contaminated"),
    )


def _sql_emb_decontaminate() -> str:
    # Dot products and norms accumulate via list_reduce — a SEQUENTIAL
    # left-to-right fold over the dimension axis, the identical IEEE
    # operation order as the Spark side's sequential numpy fold
    # (probe_max_sim). A plain SUM over unnested
    # dims is engine/parallelism order-dependent and could flip the
    # thresholded `contaminated` flag for a boundary-straddling sim
    # under DuckDB parallel aggregation at larger scale (r4 ADVICE).
    sq = (
        "sqrt(list_reduce(list_transform({v}, x -> "
        "CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))"
    )
    dot = (
        "list_reduce(list_transform(list_zip({p}, {c}), s -> "
        "CAST(struct_extract(s, 1) AS DOUBLE) * "
        "CAST(struct_extract(s, 2) AS DOUBLE)), (a, b) -> a + b)"
    )
    return f"""
WITH pn AS (
  SELECT vec_id AS pid, embedding AS pv, {sq.format(v='embedding')} AS pnorm
  FROM embeddings WHERE vec_id % 50 = 1
),
cn AS (
  SELECT vec_id, embedding AS cv, {sq.format(v='embedding')} AS cnorm
  FROM embeddings WHERE vec_id % 50 <> 1
),
sims AS (
  SELECT cn.vec_id,
         CASE WHEN pnorm * cnorm = 0 THEN 0.0
              ELSE {dot.format(p='pv', c='cv')} / (pnorm * cnorm) END AS sim
  FROM pn CROSS JOIN cn
),
mx AS (SELECT vec_id, round(MAX(sim), 6) AS max_probe_sim FROM sims GROUP BY vec_id)
SELECT vec_id, max_probe_sim,
       (max_probe_sim >= {EMB_DECONTAMINATE_TAU}) AS contaminated
FROM mx
"""


def q_doc_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-version diff (operators.maintenance.snapshot_diff): two
    deterministic snapshots are derived from the documents table (the
    'old' crawl drops every 10th doc; the 'new' crawl drops every 7th
    and edits every 5th), then diffed by key + content fingerprint —
    the added/removed/changed audit a curation pipeline publishes
    between crawls. One map-only fingerprint per side + ONE full-outer
    co-partitioned join; unchanged mass is dropped."""
    from .operators.maintenance import snapshot_diff

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    old = d.where(F.col("doc_id") % 10 != 0)
    new = d.where(F.col("doc_id") % 7 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return snapshot_diff(old, new)


def _sql_version_diff() -> str:
    fp = (
        "md5(concat_ws(chr(31), coalesce({t}, chr(0) || 'null'), "
        "coalesce(lang, chr(0) || 'null'), coalesce(source, chr(0) || 'null')))"
    )
    return f"""
WITH o AS (
  SELECT doc_id, {fp.format(t='text')} AS old_fp
  FROM documents WHERE doc_id % 10 <> 0
),
n AS (
  SELECT doc_id,
         {fp.format(t="CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END")} AS new_fp
  FROM documents WHERE doc_id % 7 <> 0
)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            ELSE 'changed' END AS change_type,
       old_fp, new_fp
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR old_fp <> new_fp
"""


def q_doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality proxy, one order up from
    ``doc_unigram_logprob``: per-doc mean bigram log-probability under
    the corpus's own add-1-smoothed bigram LM,
    ln((c(a,b) + 1) / (c(a) + |V|)) — the sharper
    perplexity-bucketing signal CCNet uses to stratify CommonCrawl.

    Shape: adjacent pairs via arrays_zip of two slices (no self-join) →
    per-(doc, a, b) tf → corpus bigram/unigram counts → two equi-joins
    on pre-aggregated gram tables (a hot bigram contributes ≤ n_docs
    join rows, AQE-skew territory) → one per-doc aggregate. |V| rides a
    1-row broadcast; the log-prob sum goes through decimal like every
    double sum in this module. Docs with < 2 tokens have no bigram and
    drop out on both engines."""
    from .operators.staging import stage

    d = _docs_with_tokens(spark, sf_dir)
    # STAGED (r07): tf feeds the bigram marginals AND the scoring join —
    # un-staged Catalyst re-derived the zip/explode subtree per use
    # (four documents scans); staging leaves one scan for the unigram
    # marginal (which genuinely needs the raw token stream — the last
    # token of each doc starts no bigram, so ca is not derivable from tf).
    tf = _bigram_counts(d).transform(stage)
    cab = tf.groupBy("a", "b").agg(F.sum("tf").alias("cab"))
    # ca (vocab-sized) feeds |V| and the scoring join — staged for the
    # same single-derivation reason as tf, leaving ONE documents scan.
    ca = (
        _term_counts(d)
        .select(F.col("term").alias("a"), F.col("tf").alias("ca"))
        .transform(stage)
    )
    v = ca.agg(F.count(F.lit(1)).alias("_v"))
    j = tf.join(cab, ["a", "b"]).join(ca, "a").crossJoin(F.broadcast(v))
    logp = F.log((F.col("cab") + F.lit(1.0)) / (F.col("ca") + F.col("_v")))
    return _mean_logprob(j, logp, "n_bigrams", "avg_bigram_logprob")


SQL_BIGRAM_LOGPROB = f"""
WITH {_SQL_BIGRAM_COUNTS},
cab AS (SELECT a, b, CAST(SUM(tf) AS BIGINT) AS cab FROM tf GROUP BY a, b),
ca AS (SELECT term AS a, CAST(COUNT(*) AS BIGINT) AS ca FROM toks GROUP BY term),
vv AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM ca),
j AS (
  SELECT tf.doc_id, tf.tf, cab.cab, ca.ca, vv.v
  FROM tf JOIN cab USING (a, b) JOIN ca USING (a) CROSS JOIN vv
)
{_sql_mean_logprob('ln((cab + 1.0) / (ca + v))', 'n_bigrams', 'avg_bigram_logprob')}
"""


#: Domain-level gate: flag domains whose mean quality is below the
#: corpus median-ish cutoff (RefinedWeb filters at URL/domain level
#: before per-doc gates — cheaper to drop a domain than score its docs).
DOMAIN_QUALITY_TAU = 0.5
#: deterministic synthetic domain fan-in (docs per domain ≈ n/25)
DOMAIN_BUCKETS = 25


def q_doc_domain_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level quality aggregation (the RefinedWeb/C4 pre-gate):
    every doc is attributed to a registered domain (deterministic
    synthetic ``site{doc_id % 25}.example`` — driver testdata has no
    URL column), then per-domain doc count, token mass, and mean
    quality score; domains whose mean quality falls below
    DOMAIN_QUALITY_TAU are flagged for wholesale drop.

    Scale: one map-only score pass + ONE hash aggregate keyed by domain
    (web-scale: ~1e8 domains — an ordinary agg, map-side partials
    absorb the per-doc fan-in). No windows, no joins."""
    d = _docs_with_tokens(spark, sf_dir)
    staged = d.select(
        "doc_id",
        F.concat(
            F.lit("site"),
            (F.col("doc_id") % DOMAIN_BUCKETS).cast("string"),
            F.lit(".example"),
        ).alias("domain"),
        TX.tokens(F.col("text")).alias("_tok"),
        "text",
    )
    scored = staged.select(
        "domain",
        F.size("_tok").cast("long").alias("_n_tok"),
        TX.quality_score(F.col("text"), tok=F.col("_tok")).alias("_q"),
    )
    agg = scored.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_n_tok").alias("total_tokens"),
        # _q is a round6 output, i.e. a 6-dp grid value in [0,1]:
        # exact int64 grid sum (r12, functions.gridsum)
        F.round(
            grid_sum(F.col("_q"), 6) / F.count(F.lit(1)), 6
        ).alias("avg_quality"),
    )
    return agg.select(
        "domain",
        "n_docs",
        "total_tokens",
        "avg_quality",
        (F.col("avg_quality") < DOMAIN_QUALITY_TAU).alias("drop_domain"),
    )


def _sql_domain_quality() -> str:
    qual = _sql_quality_expr()
    return f"""
WITH toks AS (
  SELECT doc_id, text, {_TOKS} AS t,
         'site' || CAST(doc_id % {DOMAIN_BUCKETS} AS VARCHAR) || '.example' AS domain
  FROM documents
),
scored AS (
  SELECT domain, CAST(len(t) AS BIGINT) AS n_tok, {qual} AS q FROM toks
),
agg AS (
  SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
         round({_ssum('q')} / COUNT(*), 6) AS avg_quality
  FROM scored GROUP BY domain
)
SELECT domain, n_docs, total_tokens, avg_quality,
       (avg_quality < {DOMAIN_QUALITY_TAU}) AS drop_domain
FROM agg
"""


def q_doc_neardup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's terminal artifact: a per-doc KEEP LIST.
    Connected components over the MinHash-LSH pair graph pick one
    representative per duplicate group (the smallest doc id — the
    keep-first rule); unpaired docs represent themselves. Downstream, a
    corpus rewrite is ``WHERE keep`` — this query is the list itself,
    auditable (doc → its representative).

    Scale: the component table only holds PAIRED docs (a small
    fraction of any deduped corpus), so AQE turns the final left
    assignment join into a broadcast at runtime whenever that holds —
    but the hint is deliberately absent: a heavily duplicated crawl can
    make the paired set corpus-scale, where a forced broadcast OOMs
    and the co-keyed shuffle AQE falls back to is the only correct
    plan."""
    from .operators.graph import connected_components

    docs = _docs_with_tokens(spark, sf_dir)
    pairs = DD.minhash_lsh_pairs(docs)
    comp = connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("component").alias("_rep")
    )
    return (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_rep"), F.col("doc_id")).alias("rep_id"),
        )
        .withColumn("keep", F.col("rep_id") == F.col("doc_id"))
    )


def _sql_neardup_keep() -> str:
    return f"""
WITH comp AS (
  SELECT doc_id AS node, component FROM ({_sql_neardup_components()}) q
)
SELECT d.doc_id,
       COALESCE(c.component, d.doc_id) AS rep_id,
       (COALESCE(c.component, d.doc_id) = d.doc_id) AS keep
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
"""


#: Prototypicality prune: drop the fraction of each cluster CLOSEST to
#: its centroid (most redundant/easy examples — Sorscher et al.'s
#: data-pruning result: keep the hard tail, prune the prototype core).
PRUNE_FRACTION = 0.25


def q_emb_cluster_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-based data pruning over the embedding corpus: nearest-
    centroid assignment (same deterministic seed/contract as
    ``emb_kmeans``), squared distance rounded to 6 decimals, and a
    per-cluster percent-rank on (distance, vec_id); vectors ranking in
    the closest PRUNE_FRACTION of their cluster are flagged ``pruned``.

    Scale: assignment is map-only against a literal centroid matrix;
    ranking uses operators.rank.percent_rank_all — the bounded slab
    aggregate + composite-key row_number shape, NOT a monolithic
    per-cluster window (k=8 clusters over 100 TB would put an entire
    cluster's sort into one task)."""
    from .operators.rank import percent_rank_all

    emb = _emb(spark, sf_dir)
    cents = KM.initial_centroids(emb, KMEANS_K)
    if not cents:
        return _typed_empty(
            spark,
            "vec_id long, cluster_id long, sq_dist double, d_rank double, "
            "pruned boolean",
        )
    assigned = KM.assign_clusters(emb, cents).select(
        "vec_id", "cluster_id", round6(F.col("_sqd")).alias("sq_dist")
    )
    ranked = percent_rank_all(assigned)
    return ranked.select(
        "vec_id",
        "cluster_id",
        "sq_dist",
        "d_rank",
        (F.col("d_rank") < F.lit(PRUNE_FRACTION)).alias("pruned"),
    )


def _sql_emb_cluster_prune() -> str:
    return f"""
WITH {_SQL_NEAREST_CENTROID},
a AS (
  SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id,
         {SQL_ROUND6.format(x='d')} AS sq_dist
  FROM assign
),
ranked AS (
  SELECT vec_id, cluster_id, sq_dist,
         {SQL_ROUND6.format(
             x='PERCENT_RANK() OVER ('
               'PARTITION BY cluster_id ORDER BY sq_dist ASC, vec_id ASC)')} AS d_rank
  FROM a
)
SELECT vec_id, cluster_id, sq_dist, d_rank,
       (d_rank < {PRUNE_FRACTION}) AS pruned
FROM ranked
"""


#: C4-style token blocklist (stand-in for a curated badwords list —
#: terms chosen to exist in the synthetic vocabulary) and the hit-share
#: above which a doc is dropped.
BLOCKLIST_TOKENS = ("slow", "dup", "error")
BLOCKLIST_TAU = 0.06


def q_doc_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style blocklist gate: per-doc count/share of blocklisted
    tokens; docs whose hit share exceeds BLOCKLIST_TAU are flagged for
    drop. Pure higher-order array expressions (filter + size), map-only
    at any scale — the cheapest gate in the curation cascade, so it
    runs first in pipeline order."""
    d = _docs_with_tokens(spark, sf_dir)
    t = TX.tokens(F.col("text"))
    bl = F.array(*[F.lit(w) for w in BLOCKLIST_TOKENS])
    staged = d.select(
        "doc_id",
        F.size(t).cast("long").alias("n_tokens"),
        F.size(F.filter(t, lambda x: F.array_contains(bl, x)))
        .cast("long")
        .alias("n_hits"),
    ).where(F.col("n_tokens") > 0)
    ratio = round6(F.col("n_hits").cast("double") / F.col("n_tokens"))
    return staged.select(
        "doc_id",
        "n_tokens",
        "n_hits",
        ratio.alias("hit_ratio"),
        (ratio > BLOCKLIST_TAU).alias("blocked"),
    )


def _sql_blocklist_filter() -> str:
    bl = ", ".join(f"'{w}'" for w in BLOCKLIST_TOKENS)
    return f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
),
c AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(toks, x -> x IN ({bl}))) AS BIGINT) AS n_hits
  FROM t WHERE len(toks) > 0
)
SELECT doc_id, n_tokens, n_hits,
       {SQL_ROUND6.format(x='CAST(n_hits AS DOUBLE) / n_tokens')} AS hit_ratio,
       ({SQL_ROUND6.format(x='CAST(n_hits AS DOUBLE) / n_tokens')} > {BLOCKLIST_TAU}) AS blocked
FROM c
"""


#: Boilerplate segment removal (the C4/Dolma line-dedup rule, re-based
#: on deterministic token segments because driver testdata has no
#: newline structure): a segment is boilerplate when it appears in ≥
#: BOILERPLATE_MIN_DF distinct docs.
BOILERPLATE_SEG_TOKENS = 3
BOILERPLATE_MIN_DF = 5


def q_doc_boilerplate_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate removal: segment every doc into
    fixed 3-token windows, compute each segment's document frequency,
    flag segments appearing in ≥ BOILERPLATE_MIN_DF docs (headers,
    nav bars, cookie banners in a real crawl), and report per-doc
    segment counts + the token mass that survives removal.

    Scale: segmenting is a map-only array transform (no per-token
    explode of the corpus — segments fan out at 1/3 token rate); the
    df table is one hash aggregate over distinct (segment, doc) and is
    re-joined pre-aggregated, so a viral segment contributes one row
    per containing doc, never a cross product."""
    d = _docs_with_tokens(spark, sf_dir)
    seg_n = BOILERPLATE_SEG_TOKENS
    t = F.col("_t")
    nseg = F.ceil(F.size(t) / F.lit(seg_n)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), nseg - 1),
        lambda i: F.array_join(F.slice(t, i * seg_n + 1, seg_n), " "),
    )
    exploded = (
        d.select("doc_id", TX.tokens(F.col("text")).alias("_t"))
        .where(F.size("_t") > 0)
        .select("doc_id", F.explode(segs).alias("seg"))
    )
    dfreq = (
        exploded.select("doc_id", "seg")
        .distinct()
        .groupBy("seg")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    j = exploded.join(dfreq, "seg")
    is_boiler = F.col("_df") >= BOILERPLATE_MIN_DF
    seg_tokens = F.size(F.split(F.col("seg"), " ")).cast("long")
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum(F.when(is_boiler, 1).otherwise(0)).cast("long").alias("n_boilerplate"),
        round6(
            F.sum(F.when(is_boiler, 1.0).otherwise(0.0)) / F.count(F.lit(1))
        ).alias("boilerplate_share"),
        F.sum(F.when(is_boiler, F.lit(0)).otherwise(seg_tokens))
        .cast("long")
        .alias("kept_tokens"),
    )


def _sql_boilerplate_segments() -> str:
    return f"""
WITH {_SQL_POS_TOKS},
seg AS (
  SELECT doc_id, (i - 1) // {BOILERPLATE_SEG_TOKENS} AS seg_idx,
         string_agg(term, ' ' ORDER BY i) AS seg
  FROM toks GROUP BY doc_id, seg_idx
),
dfreq AS (SELECT seg, COUNT(DISTINCT doc_id) AS df FROM seg GROUP BY seg),
j AS (
  SELECT s.doc_id, s.seg, (dfreq.df >= {BOILERPLATE_MIN_DF}) AS boiler
  FROM seg s JOIN dfreq USING (seg)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate,
       {SQL_ROUND6.format(x='SUM(CASE WHEN boiler THEN 1.0 ELSE 0.0 END) / COUNT(*)')} AS boilerplate_share,
       CAST(SUM(CASE WHEN boiler THEN 0 ELSE len(string_split(seg, ' ')) END) AS BIGINT) AS kept_tokens
FROM j GROUP BY doc_id
"""


#: Q7/Q8 constants (values that exist in the driver testdata dims).
TRADE_NATION_A = "NATION_3"
TRADE_NATION_B = "NATION_7"
SHARE_REGION = "EUROPE"
SHARE_NATION = "NATION_5"


def q_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7-shaped bilateral trade volume: revenue shipped between
    two specific nations (both directions), by supplier nation ×
    customer nation × ship year. Nation dims broadcast twice under
    different aliases; the nation-pair predicate lands as a residual on
    the broadcast joins so the fact shuffle only carries surviving
    rows. Decimal-stable revenue sum."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    n1 = nat.select(
        F.col("n_nationkey").alias("_sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("_cn_key"), F.col("n_name").alias("cust_nation")
    )
    a, b = F.lit(TRADE_NATION_A), F.lit(TRADE_NATION_B)
    # 4-dp-grid revenue -> exact int64 grid sum (r12, functions.gridsum)
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("_sn_key"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("_cn_key"))
        .where(
            ((F.col("supp_nation") == a) & (F.col("cust_nation") == b))
            | ((F.col("supp_nation") == b) & (F.col("cust_nation") == a))
        )
    )
    return (
        j.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(grid_sum(revenue, 4).alias("revenue"))
    )


SQL_NATION_TRADE_VOLUME = f"""
SELECT supp_nation, cust_nation, l_year,
       {_ssum('volume')} AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         l_extendedprice * (1.0 - l_discount) AS volume
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = '{TRADE_NATION_A}' AND n2.n_name = '{TRADE_NATION_B}')
     OR (n1.n_name = '{TRADE_NATION_B}' AND n2.n_name = '{TRADE_NATION_A}')
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""


def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q8-shaped market share: per order year, the share of one
    region's customer revenue supplied by one nation. One pass — the
    conditional share numerator rides the same aggregate as the total
    (CASE-inside-sum, the Q14 trick applied to Q8), so no self-join
    and no second scan. Share = ratio of two decimal sums, rounded
    portably."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").where(
        F.col("r_name") == SHARE_REGION
    )
    nc = nat.select(
        F.col("n_nationkey").alias("_cn_key"), F.col("n_regionkey").alias("_cr_key")
    )
    ns = nat.select(
        F.col("n_nationkey").alias("_sn_key"), F.col("n_name").alias("supp_nation")
    )
    # 4-dp-grid volume (and its CASE-gated share twin, 0.0 included on
    # the grid) -> exact int64 grid sums (r12, functions.gridsum)
    vol = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nc), cust.c_nationkey == F.col("_cn_key"))
        .join(F.broadcast(reg), F.col("_cr_key") == reg.r_regionkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(ns), supp.s_nationkey == F.col("_sn_key"))
    )
    share_vol = F.when(F.col("supp_nation") == SHARE_NATION, vol).otherwise(
        F.lit(0.0)
    )
    agg = j.groupBy(F.year("o_orderdate").cast("long").alias("o_year")).agg(
        grid_sum(vol, 4).alias("total_revenue"),
        grid_sum(share_vol, 4).alias("nation_revenue"),
    )
    return agg.select(
        "o_year",
        "total_revenue",
        "nation_revenue",
        round6(F.col("nation_revenue") / F.col("total_revenue")).alias("mkt_share"),
    )


SQL_NATION_MARKET_SHARE = f"""
WITH base AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         l_extendedprice * (1.0 - l_discount) AS volume,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = '{SHARE_REGION}'
),
agg AS (
  SELECT o_year,
         {_ssum('volume')} AS total_revenue,
         {_ssum(f"CASE WHEN supp_nation = '{SHARE_NATION}' THEN volume ELSE 0.0 END")} AS nation_revenue
  FROM base GROUP BY o_year
)
SELECT o_year, total_revenue, nation_revenue,
       {SQL_ROUND6.format(x='nation_revenue / total_revenue')} AS mkt_share
FROM agg
"""


def q_product_line_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q9-shaped product-line profit (adapted: testdata has no
    partsupp, so revenue stands in for profit): per supplier nation ×
    order year, revenue over parts whose name carries the product-line
    marker. The selective part filter is pushed to the part scan and
    that side seeds the join order; nation broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_name").contains("widget")
    )
    # 4-dp-grid volume -> exact int64 grid sum (r12, functions.gridsum)
    vol = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    j = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
    )
    return (
        j.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(grid_sum(vol, 4).alias("sum_profit"))
    )


SQL_PRODUCT_LINE_PROFIT = f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       {_ssum('l_extendedprice * (1.0 - l_discount)')} AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE contains(p_name, 'widget')
GROUP BY n_name, CAST(year(o_orderdate) AS BIGINT)
"""


def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13-shaped order-count distribution: how many customers
    placed exactly k orders, INCLUDING the zero-order customers the
    left join preserves. Two-level aggregate — per-customer count, then
    the count-of-counts — both co-keyed hash aggregates with map-side
    partials; the second input is bounded by the distinct order-count
    codomain."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


SQL_CUSTOMER_ORDER_DISTRIBUTION = """
WITH c_orders AS (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM c_orders GROUP BY c_count
"""


#: ann_hamming: every 100th vector queries the corpus; exact top-k.
HAMMING_QUERY_MOD = 100
HAMMING_TOPK = 10


def q_emb_signbits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (1-bit/dim) embedding quantization: the 32× compression
    that lets an ANN shortlist scan 8 B signatures instead of 256 B
    floats (functions.vector.sign_words). Map-only. Output is the two
    32-bit words plus the set-bit count — scalar columns, exact integer
    arithmetic on any engine."""
    from .functions.vector import sign_words

    emb = _emb(spark, sf_dir)
    sig = sign_words(F.col("embedding"))
    return emb.select(
        "vec_id",
        F.element_at(sig, 1).alias("sig_lo"),
        F.element_at(sig, 2).alias("sig_hi"),
        (
            F.bit_count(F.element_at(sig, 1)) + F.bit_count(F.element_at(sig, 2))
        ).cast("long").alias("n_bits_set"),
    )


def _sql_sign_word(offset: int) -> str:
    """SUM of 2^j over set sign bits for dims offset+1 .. offset+32."""
    terms = " + ".join(
        f"(CASE WHEN CAST(embedding[{offset + j + 1}] AS DOUBLE) > 0 "
        f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(32)
    )
    return f"({terms})"


def _sql_emb_signbits() -> str:
    lo, hi = _sql_sign_word(0), _sql_sign_word(32)
    return f"""
WITH s AS (SELECT vec_id, {lo} AS sig_lo, {hi} AS sig_hi FROM embeddings)
SELECT vec_id, sig_lo, sig_hi,
       CAST(bit_count(sig_lo) + bit_count(sig_hi) AS BIGINT) AS n_bits_set
FROM s
"""


def q_ann_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Hamming top-k over binary signatures
    (operators.similarity.hamming_topk) — the 4th ANN path, and the one
    whose shortlist is exact for its metric, so it runs under the full
    differential oracle (LSH/IVF/PQ are recall-pinned instead)."""
    emb = _emb(spark, sf_dir)
    qs = emb.where(F.col("vec_id") % HAMMING_QUERY_MOD == 0)
    return SIM.hamming_topk(qs, emb, k=HAMMING_TOPK)


def _sql_hamming_shortlist(k: int) -> str:
    """Shared CTE body: per-query exact Hamming top-``k`` as
    (query_id, neighbor_id, hamming) — the shortlist stage of the
    serving pattern."""
    lo, hi = _sql_sign_word(0), _sql_sign_word(32)
    return f"""
sig AS (SELECT vec_id, {lo} AS lo, {hi} AS hi FROM embeddings),
hpairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi)) AS BIGINT) AS hamming
  FROM sig q JOIN sig c ON c.vec_id <> q.vec_id
  WHERE q.vec_id % {HAMMING_QUERY_MOD} = 0
),
hranked AS (
  SELECT query_id, neighbor_id, hamming,
         row_number() OVER (
           PARTITION BY query_id ORDER BY hamming ASC, neighbor_id ASC
         ) AS rn
  FROM hpairs
),
shortlist AS (
  SELECT query_id, neighbor_id, hamming FROM hranked WHERE rn <= {k}
)"""


def _sql_ann_hamming() -> str:
    return f"""
WITH {_sql_hamming_shortlist(HAMMING_TOPK)}
SELECT query_id, neighbor_id, hamming FROM shortlist
"""


#: shortlist width for the shortlist→rerank serving pattern
HAMMING_SHORTLIST = 50


def q_ann_hamming_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN SERVING pattern, end-to-end: binary Hamming
    shortlist (8 B/row scan) → exact cosine rerank of the surviving
    HAMMING_SHORTLIST candidates → final top-k. Both stages are
    deterministic (integer Hamming; sequential-fold cosine rounded to
    6 decimals, id tiebreak), so the WHOLE composition runs under the
    differential oracle — the check LSH/IVF/PQ can't offer.

    Scale: stage 1 is the slab-ranked hamming_topk (bounded-codomain
    discipline); stage 2 touches only |queries| × HAMMING_SHORTLIST
    rows, so its float loads + per-query window are shortlist-bounded,
    not corpus-bounded."""
    from .functions.vector import cosine

    emb = _emb(spark, sf_dir)
    qs = emb.where(F.col("vec_id") % HAMMING_QUERY_MOD == 0)
    short = SIM.hamming_topk(qs, emb, k=HAMMING_SHORTLIST)
    qv = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv"))
    cv = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_cv")
    )
    scored = (
        short.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            "hamming",
            round6(cosine(F.col("_qv"), F.col("_cv"))).alias("cosine_sim"),
        )
    )
    from .operators.topk import top_k_per_group

    # the per-query window ranks ≤ HAMMING_SHORTLIST rows — bounded
    ranked = top_k_per_group(
        scored,
        ["query_id"],
        [F.col("cosine_sim").desc(), F.col("neighbor_id").asc()],
        HAMMING_TOPK,
    )
    return ranked.select("query_id", "neighbor_id", "hamming", "cosine_sim")


# sequential list_reduce folds — the identical IEEE accumulation
# order as functions.vector.dot/norm2 (F.aggregate), so the rounded
# cosine matches bit-for-bit (same discipline as emb_decontaminate).
_SQL_SEQ_NORM = (
    "sqrt(list_reduce(list_transform({v}, x -> "
    "CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))"
)
_SQL_SEQ_DOT = (
    "list_reduce(list_transform(list_zip({p}, {c}), s -> "
    "CAST(struct_extract(s, 1) AS DOUBLE) * "
    "CAST(struct_extract(s, 2) AS DOUBLE)), (a, b) -> a + b)"
)


def _sql_ann_hamming_rerank() -> str:
    sq = _SQL_SEQ_NORM
    dotf = _SQL_SEQ_DOT
    return f"""
WITH {_sql_hamming_shortlist(HAMMING_SHORTLIST)},
qe AS (SELECT vec_id AS query_id, embedding AS qv, {sq.format(v='embedding')} AS qn
       FROM embeddings WHERE vec_id % {HAMMING_QUERY_MOD} = 0),
ce AS (SELECT vec_id AS neighbor_id, embedding AS cv, {sq.format(v='embedding')} AS cn
       FROM embeddings),
scored AS (
  SELECT s.query_id, s.neighbor_id, s.hamming,
         {SQL_ROUND6.format(
             x=f"CASE WHEN qn * cn = 0 THEN 0.0"
               f" ELSE {dotf.format(p='qv', c='cv')} / (qn * cn) END")} AS cosine_sim
  FROM shortlist s JOIN qe USING (query_id) JOIN ce USING (neighbor_id)
),
rranked AS (
  SELECT query_id, neighbor_id, hamming, cosine_sim,
         row_number() OVER (
           PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC
         ) AS rn
  FROM scored
)
SELECT query_id, neighbor_id, hamming, cosine_sim FROM rranked WHERE rn <= {HAMMING_TOPK}
"""


def q_events_changelog_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog application (operators.latest.apply_changelog):
    the events stream read as a per-user changelog — ``error`` events
    are delete tombstones, everything else upserts (event_id, value).
    Output = current table state: one row per surviving user, the
    Debezium/compacted-topic semantic.

    Scale: ONE keyed hash aggregate (max_by over the total
    (ts_us, event_id) order, map-side partials) + a map-side tombstone
    filter — no window, no second shuffle."""
    from .operators.latest import apply_changelog

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts_us",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        round6(F.col("value")).alias("value"),
    )
    return apply_changelog(ev)


SQL_CHANGELOG_STATE = f"""
WITH log AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         {SQL_ROUND6.format(x='value')} AS value
  FROM events
),
ranked AS (
  SELECT user_id, event_id, ts_us, op, value,
         row_number() OVER (
           PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC
         ) AS rn
  FROM log
)
SELECT user_id, event_id, ts_us, value
FROM ranked WHERE rn = 1 AND op <> 'D'
"""


def q_doc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build: three deterministic crawl versions of
    every doc (v2 edits every 5th, v3 edits every 7th) collapse into
    validity intervals — a new interval only where the content
    fingerprint actually changed, ``valid_to`` = the next change's
    version, open (NULL) on the current row. The dimension-history
    table every warehouse publishes.

    Scale: per-key windows ordered by version — group size is the
    VERSION COUNT (3 here, tens in practice), never corpus-bounded, so
    the lag/lead windows are safe at any doc count. All versions'
    fingerprints come from ONE row via array+explode (r07 — the 3-way
    union form scanned documents three times for synthetic variants of
    the same row)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    structs = []
    for ver, edit_mod in ((1, None), (2, 5), (3, 7)):
        t = F.col("text")
        if edit_mod is not None:
            t = F.when(
                F.col("doc_id") % edit_mod == 0,
                F.concat(F.col("text"), F.lit(f" rev{ver}")),
            ).otherwise(F.col("text"))
        structs.append(
            F.struct(
                F.lit(ver).cast("long").alias("version"),
                F.md5(t).alias("fp"),
            )
        )
    hist = d.select(
        "doc_id", F.explode(F.array(*structs)).alias("_v")
    ).select("doc_id", "_v.version", "_v.fp")
    w = Window.partitionBy("doc_id").orderBy("version")
    changed = hist.withColumn("_prev", F.lag("fp").over(w)).where(
        F.col("_prev").isNull() | (F.col("_prev") != F.col("fp"))
    )
    w2 = Window.partitionBy("doc_id").orderBy("valid_from")
    return (
        changed.select("doc_id", "fp", F.col("version").alias("valid_from"))
        .withColumn("valid_to", F.lead("valid_from").over(w2))
        .withColumn("is_current", F.col("valid_to").isNull())
    )


SQL_DOC_SCD2 = """
WITH hist AS (
  SELECT doc_id, CAST(1 AS BIGINT) AS version, md5(text) AS fp FROM documents
  UNION ALL
  SELECT doc_id, 2,
         md5(CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END)
  FROM documents
  UNION ALL
  SELECT doc_id, 3,
         md5(CASE WHEN doc_id % 7 = 0 THEN text || ' rev3' ELSE text END)
  FROM documents
),
changed AS (
  SELECT doc_id, version, fp,
         lag(fp) OVER (PARTITION BY doc_id ORDER BY version) AS prev_fp
  FROM hist
),
intervals AS (
  SELECT doc_id, fp, version AS valid_from
  FROM changed WHERE prev_fp IS NULL OR prev_fp <> fp
)
SELECT doc_id, fp, valid_from,
       lead(valid_from) OVER (PARTITION BY doc_id ORDER BY valid_from) AS valid_to,
       (lead(valid_from) OVER (PARTITION BY doc_id ORDER BY valid_from) IS NULL) AS is_current
FROM intervals
"""


def q_neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle participation over the near-dup graph — the clustering-
    coefficient signal that separates clique-like duplicate groups
    (template families) from chains (drifting revisions). Per node: how
    many triangles it belongs to; nodes in no triangle are omitted.

    Scale: the classic ordered-wedge plan — every edge is oriented
    low→high, wedges join edge×edge on the middle vertex, and the
    closing edge check is one more equi-join — ALL joins run on the
    (small) verified near-dup pair list, never on the corpus; wedge
    volume is Σ deg², bounded because LSH verification caps the edge
    list. No cartesian anywhere."""
    pairs = DD.minhash_lsh_pairs(_docs_with_tokens(spark, sf_dir))
    e = pairs.select(
        F.col("id_a").alias("lo"), F.col("id_b").alias("hi")
    )  # already lo < hi
    w = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.hi") == F.col("e2.lo"))
        .select(
            F.col("e1.lo").alias("a"),
            F.col("e1.hi").alias("b"),
            F.col("e2.hi").alias("c"),
        )
    )
    tri = w.join(
        e.select(F.col("lo").alias("a"), F.col("hi").alias("c")),
        ["a", "c"],
    )
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return per_node


def _sql_neardup_triangles() -> str:
    return f"""
WITH pairs AS (SELECT id_a AS lo, id_b AS hi FROM ({_sql_minhash_lsh()}) q),
wedges AS (
  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
  FROM pairs e1 JOIN pairs e2 ON e1.hi = e2.lo
),
tri AS (
  SELECT w.a, w.b, w.c FROM wedges w JOIN pairs e ON e.lo = w.a AND e.hi = w.c
),
nodes AS (
  SELECT a AS doc_id FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM nodes GROUP BY doc_id
"""


#: BM25 retrieval: fixed query terms (present in the synthetic vocab)
#: and the standard Robertson parameters.
BM25_QUERY_TERMS = ("spark", "join", "stream")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPN = 20


def q_doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring — the standard search ranking function
    (Robertson/Spärck Jones), scoring every doc against a fixed query
    term set and returning the top matches. The retrieval complement of
    the tf-idf term profile (doc_tfidf_terms scores terms per doc; this
    scores docs per query).

    Scale: document length is MAP-ONLY (`F.size` over the token array —
    no explode, no shuffle; the generated token stream exists only for
    the query-term-filtered tf), per-(doc, term) tf is for the QUERY
    TERMS ONLY (the filter pushes into the explode), df/avgdl ride a
    1-row broadcast, and the score sum spans ≤ |query| rows per doc —
    decimal-summed with per-term round6 (ln quarantine), so the ranking
    is engine- and order-independent. Final top-N is a TakeOrdered, not
    a sort. Zero-token docs are excluded from dl (as the old exploded
    aggregate did implicitly)."""
    d = _docs_with_tokens(spark, sf_dir)
    from .operators.staging import stage

    # dl feeds BOTH the 1-row totals aggregate and the scoring join;
    # unstaged, each reference re-scans AND re-tokenizes the whole
    # corpus (caught by the plan test's scan count). The staged frame
    # is two ints per doc — narrow — and saves a full tokenize pass.
    dl = (
        d.select("doc_id", F.size(TX.tokens(F.col("text"))).alias("dl"))
        .where(F.col("dl") > 0)
        .transform(stage)
    )
    # tf feeds BOTH the df aggregate and the scoring join; without
    # staging the corpus-wide explode subtree executes twice (verified:
    # no AQE exchange reuse here). The staged frame is ≤ |matching
    # docs| × |query terms| rows — bounded metadata, not corpus-sized.
    # The term filter is on a grouping key, so it pushes below the
    # count to the explode.
    tf = (
        _term_counts(d, "doc_id")
        .where(F.col("term").isin(*BM25_QUERY_TERMS))
        .transform(stage)
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    totals = dl.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("dl").alias("_dl_sum"),
    )
    j = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(totals))
    )
    avgdl = F.col("_dl_sum") / F.col("_n")
    idf = F.log(
        (F.col("_n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    denom = F.col("tf") + F.lit(BM25_K1) * (
        F.lit(1.0) - F.lit(BM25_B) + F.lit(BM25_B) * F.col("dl") / avgdl
    )
    contrib = round6(idf * (F.col("tf") * F.lit(BM25_K1 + 1.0)) / denom)
    scored = j.groupBy("doc_id").agg(
        F.round(stable_sum(contrib), 6).alias("bm25"),
        F.count(F.lit(1)).alias("n_matched_terms"),
    )
    from .operators.topk import top_k

    return top_k(
        scored, [F.col("bm25").desc(), F.col("doc_id").asc()], BM25_TOPN
    ).select("doc_id", "bm25", F.col("n_matched_terms").cast("long").alias("n_matched_terms"))


def _sql_doc_bm25() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    idf = "ln((n - df + 0.5) / (df + 0.5) + 1.0)"
    denom = f"(tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl / avgdl))"
    contrib = SQL_ROUND6.format(x=f"{idf} * (tf * {BM25_K1 + 1.0}) / {denom}")
    return f"""
WITH dl AS (
  SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS dl
  FROM documents WHERE len({_TOKS}) > 0
),
{_sql_term_counts('doc_id')},
dfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df
  FROM tf WHERE term IN ({terms}) GROUP BY term
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
  FROM dl
),
j AS (
  SELECT tf.doc_id, tf.tf, dfreq.df, dl.dl, tot.n, tot.avgdl
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN tot
),
scored AS (
  SELECT doc_id, round({_ssum(contrib)}, 6) AS bm25,
         CAST(COUNT(*) AS BIGINT) AS n_matched_terms
  FROM j GROUP BY doc_id
),
ranked AS (
  SELECT doc_id, bm25, n_matched_terms,
         row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rn
  FROM scored
)
SELECT doc_id, bm25, n_matched_terms FROM ranked WHERE rn <= {BM25_TOPN}
"""


#: Column spec for the data-profiling query: (name, repr kind). The
#: repr kind picks a STRING rendering that is byte-identical in Spark
#: and DuckDB (raw doubles/timestamps render differently, so money
#: goes through DECIMAL(18,2) and timestamps through an explicit
#: format string).
PROFILE_COLUMNS = (
    ("o_orderkey", "int"),
    ("o_custkey", "int"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "money"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
)


def q_orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling audit of the orders table — per column: row
    count, null count, distinct count, min/max rendered as portable
    strings. The standard ingest-time data-quality summary (what
    Deequ/Great-Expectations profilers emit) as a first-class query.

    Scale: TWO hash-aggregate passes over the fact, zero Sort nodes
    (r12, guide §2.3/§5). One combined aggregate is a trap here:
    min/max over STRING columns put var-length fields in the agg
    buffer, which disqualifies HashAggregate, and the multi-distinct
    rewrite (Catalyst Expand, fan-out 7) then rides a SortAggregate
    cascade — a full sort of the expanded fact. Splitting lets each
    half stay hash-shaped: the nulls/min/max agg has no Expand (a
    streaming single-group agg; its SortAggregate has empty grouping,
    so no Sort is planned), and the distinct-count agg's buffer is
    all longs (HashAggregate-eligible, strings appear only as
    grouping keys). Measured 2.75 s -> 0.95 s at sf0.1; the two 1-row
    results meet in a broadcast cross join and the unpivot is a
    ``stack`` over the finished row, not a per-column rescan."""
    o = load_table(spark, sf_dir, "orders")

    def _repr(col, kind):
        if kind == "ts":
            return F.date_format(col, "yyyy-MM-dd HH:mm:ss")
        if kind == "money":
            return col.cast("decimal(18,2)").cast("string")
        return col.cast("string")

    base_aggs = [F.count(F.lit(1)).alias("n_rows")]
    nd_aggs = []
    for c, kind in PROFILE_COLUMNS:
        base_aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"{c}__nulls"),
            _repr(F.min(F.col(c)), kind).alias(f"{c}__min"),
            _repr(F.max(F.col(c)), kind).alias(f"{c}__max"),
        ]
        nd_aggs.append(F.countDistinct(F.col(c)).alias(f"{c}__nd"))
    row = o.agg(*base_aggs).crossJoin(F.broadcast(o.agg(*nd_aggs)))
    stack_args = ", ".join(
        f"'{c}', {c}__nulls, {c}__nd, {c}__min, {c}__max"
        for c, _ in PROFILE_COLUMNS
    )
    return row.selectExpr(
        "CAST(n_rows AS LONG) AS n_rows",
        f"stack({len(PROFILE_COLUMNS)}, {stack_args})"
        " AS (col_name, n_nulls, n_distinct, min_repr, max_repr)",
    ).select(
        "col_name", "n_rows", "n_nulls",
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "min_repr", "max_repr",
    )


def _sql_orders_profile() -> str:
    def _repr(expr, kind):
        if kind == "ts":
            return f"strftime({expr}, '%Y-%m-%d %H:%M:%S')"
        if kind == "money":
            return f"CAST(CAST({expr} AS DECIMAL(18,2)) AS VARCHAR)"
        return f"CAST({expr} AS VARCHAR)"

    aggs = ["CAST(COUNT(*) AS BIGINT) AS n_rows"]
    for c, kind in PROFILE_COLUMNS:
        aggs += [
            f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS {c}__nulls",
            f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS {c}__nd",
            f"{_repr(f'MIN({c})', kind)} AS {c}__min",
            f"{_repr(f'MAX({c})', kind)} AS {c}__max",
        ]
    selects = " UNION ALL ".join(
        f"SELECT '{c}' AS col_name, n_rows, {c}__nulls AS n_nulls,"
        f" {c}__nd AS n_distinct, {c}__min AS min_repr, {c}__max AS max_repr"
        f" FROM agg"
        for c, _ in PROFILE_COLUMNS
    )
    return f"WITH agg AS MATERIALIZED (SELECT {', '.join(aggs)} FROM orders)\n{selects}"


def q_emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension feature statistics of the embedding matrix — the
    standardization table (mean, population std, min, max per
    dimension) an ML pipeline fits before z-scoring features, plus the
    zero-variance-dimension signal that flags dead features.

    Scale: ONE pass — posexplode to (dim, value) with map-side partial
    aggregation down to d rows (d = 64, constant); sums run in decimal
    (order-free) and the only irrational (sqrt of the rational
    variance) is round6-quarantined, so the table is bit-identical
    across engines. The fitted d-row table is exactly what a map-only
    normalization pass would broadcast."""
    emb = _emb(spark, sf_dir)
    xs = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "x"
        )
    )
    g = xs.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec("x")).alias("_s"),
        F.sum(dec(F.col("x") * F.col("x"))).alias("_s2"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
    )
    mean = F.col("_s").cast("double") / F.col("n")
    ex2 = F.col("_s2").cast("double") / F.col("n")
    return g.select(
        F.col("dim").cast("long").alias("dim"),
        "n",
        round6(mean).alias("mean_x"),
        round6(F.sqrt(F.greatest(ex2 - mean * mean, F.lit(0.0)))).alias(
            "std_x"
        ),
        round6(F.col("min_x")).alias("min_x"),
        round6(F.col("max_x")).alias("max_x"),
    )


SQL_EMB_DIM_STATS = f"""
WITH xs AS (
  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
g AS (
  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
         {_ssum('x')} AS s, {_ssum('x * x')} AS s2,
         MIN(x) AS min_x, MAX(x) AS max_x
  FROM xs GROUP BY dim
)
SELECT CAST(dim AS BIGINT) AS dim, n,
       {SQL_ROUND6.format(x='s / n')} AS mean_x,
       {SQL_ROUND6.format(x='sqrt(GREATEST(s2 / n - (s / n) * (s / n), 0.0))')} AS std_x,
       {SQL_ROUND6.format(x='min_x')} AS min_x,
       {SQL_ROUND6.format(x='max_x')} AS max_x
FROM g
"""


def q_event_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality profile — per (day-of-week, hour-of-day)
    slot: observed hours, average and peak hourly event volume, and the
    peak/average burstiness ratio. The capacity-planning / anomaly-
    baseline grid (the 168-cell profile a monitor compares live traffic
    against; the seasonal complement to the EWMA trend).

    Scale: the fact collapses to the (calendar-hour) histogram with ONE
    map-side-combined aggregate; the profile is a second aggregate over
    that bounded table into ≤ 168 rows. Averages are exact integer
    ratios in double (deterministic), round6'd."""
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        hourly.groupBy(
            (F.dayofweek("h") - 1).cast("long").alias("dow"),
            F.hour("h").cast("long").alias("hod"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.sum("cnt").cast("long").alias("n_events"),
            F.max("cnt").cast("long").alias("peak_hour"),
        )
        .select(
            "dow",
            "hod",
            "n_hours",
            "n_events",
            round6(
                F.col("n_events").cast("double") / F.col("n_hours")
            ).alias("avg_per_hour"),
            "peak_hour",
            round6(
                F.col("peak_hour")
                * F.col("n_hours").cast("double")
                / F.col("n_events")
            ).alias("peak_over_avg"),
        )
    )


SQL_EVENT_SEASONALITY = f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1
),
prof AS (
  SELECT CAST(dayofweek(h) AS BIGINT) AS dow,
         CAST(hour(h) AS BIGINT) AS hod,
         CAST(COUNT(*) AS BIGINT) AS n_hours,
         CAST(SUM(cnt) AS BIGINT) AS n_events,
         CAST(MAX(cnt) AS BIGINT) AS peak_hour
  FROM hourly GROUP BY 1, 2
)
SELECT dow, hod, n_hours, n_events,
       {SQL_ROUND6.format(x='CAST(n_events AS DOUBLE) / n_hours')} AS avg_per_hour,
       peak_hour,
       {SQL_ROUND6.format(x='peak_hour * CAST(n_hours AS DOUBLE) / n_events')} AS peak_over_avg
FROM prof
"""


#: Per-key row-count quantiles of the join-skew profile.
SKEW_QS = [("p50", 1, 2), ("p99", 99, 100)]


def q_join_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic for the lineitem→orders key — the
    pre-flight check that decides whether a shuffle join needs salting
    or AQE skew splitting: per-key row-count distribution (p50/p99/max)
    and the max/mean hot-key ratio. The operational companion to
    operators/enrich.py's salted join.

    Scale: per-key counts are ONE map-side-combined aggregate; the
    distribution quantiles come from the COUNT-OF-COUNTS histogram
    (≤ distinct-count-values rows — tiny), so no key list is ever
    sorted or collected; the report is one row."""
    from .operators.rank import quantile_disc_slab

    per_key = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from .operators.staging import stage

    per_key = per_key.transform(stage)
    q = quantile_disc_slab(
        per_key.select(F.lit("all").alias("g"), F.col("cnt").alias("v")),
        "g",
        "v",
        SKEW_QS,
        count_alias="n_keys",
    ).select("n_keys", "p50", "p99")
    totals = per_key.agg(
        F.sum("cnt").cast("long").alias("total_rows"),
        F.max("cnt").cast("long").alias("max_per_key"),
    )
    return (
        totals.crossJoin(F.broadcast(q))
        .select(
            F.col("n_keys").cast("long").alias("n_keys"),
            "total_rows",
            F.col("p50").cast("long").alias("p50_per_key"),
            F.col("p99").cast("long").alias("p99_per_key"),
            "max_per_key",
            round6(
                F.col("max_per_key")
                * F.col("n_keys").cast("double")
                / F.col("total_rows").cast("double")
            ).alias("skew_max_over_mean"),
        )
    )


SQL_JOIN_SKEW_PROFILE = f"""
WITH per_key AS (
  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1
),
q AS ({_sql_quantile_disc(
    "(SELECT 'all' AS g, cnt AS v FROM per_key)", SKEW_QS, "n_keys"
)}),
t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_rows,
             CAST(MAX(cnt) AS BIGINT) AS max_per_key FROM per_key)
SELECT n_keys, total_rows,
       CAST(p50 AS BIGINT) AS p50_per_key, CAST(p99 AS BIGINT) AS p99_per_key,
       max_per_key,
       {SQL_ROUND6.format(x="max_per_key * CAST(n_keys AS DOUBLE) / CAST(total_rows AS DOUBLE)")} AS skew_max_over_mean
FROM t CROSS JOIN q
"""


#: Fixed query phrase for the positional-index search (present in the
#: synthetic vocab — ~46 occurrences at sf0.001, probed).
PHRASE_TERMS = ("window", "join")


def q_doc_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PHRASE search via a positional index — the search-engine
    primitive BM25 can't express (bag-of-words scoring loses adjacency):
    docs containing the query terms at consecutive positions, with
    match count and first position. Completes the retrieval family
    (BM25 ranking → RRF fusion → phrase precision).

    Scale: the positional explode is filtered to the QUERY TERMS before
    anything shuffles (term-filtered index, not a corpus posting list);
    adjacency is one equi-join per additional phrase term on (doc_id,
    pos) — join fan-in bounded by query-term frequency, never document
    length."""
    d = _docs_with_tokens(spark, sf_dir)
    pos = (
        d.select(
            "doc_id",
            F.posexplode(TX.tokens(F.col("text"))).alias("pos", "term"),
        )
        .where(F.col("term").isin(*PHRASE_TERMS))
    )
    from .operators.staging import stage

    pos = pos.transform(stage)
    out = pos.where(F.col("term") == PHRASE_TERMS[0]).select("doc_id", "pos")
    for i, t in enumerate(PHRASE_TERMS[1:], start=1):
        nxt = pos.where(F.col("term") == t).select(
            "doc_id", (F.col("pos") - i).alias("pos")
        )
        out = out.join(nxt, ["doc_id", "pos"])
    return out.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_matches"),
        F.min("pos").cast("long").alias("first_pos"),
    )


def _sql_doc_phrase_search() -> str:
    joins = "".join(
        f"\n  JOIN pos p{i} ON p{i}.doc_id = p0.doc_id"
        f" AND p{i}.pos = p0.pos + {i} AND p{i}.term = '{t}'"
        for i, t in enumerate(PHRASE_TERMS[1:], start=1)
    )
    terms = ", ".join(f"'{t}'" for t in PHRASE_TERMS)
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
pos0 AS (
  SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS term
  FROM toks
),
pos AS (SELECT * FROM pos0 WHERE term IN ({terms}))
SELECT p0.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_matches,
       CAST(MIN(p0.pos) AS BIGINT) AS first_pos
FROM pos p0{joins}
WHERE p0.term = '{PHRASE_TERMS[0]}'
GROUP BY 1
"""


#: RFM score boundaries: the exact population quartiles.
RFM_QUARTILES = [("p25", 1, 4), ("p50", 2, 4), ("p75", 3, 4)]


def q_customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the retail-analytics staple: score
    every ordering customer 1–4 on Recency (latest order date),
    Frequency (order count) and Monetary (decimal-stable spend) against
    the EXACT population quartiles, then report segment sizes and
    average spend. Quartiles use the discrete-quantile definition of
    operators.rank.quantile_disc_slab (smallest value whose cumulative
    count reaches ceil(p·n), integer-arithmetic ranks), so both engines
    draw identical boundaries.

    Scale: per-customer stats are ONE orders hash aggregate; each
    quartile table derives from a histogram of that dimension-sized
    frame (never the fact) and rides back as a 1-row broadcast; scoring
    is map-only comparisons; the report is ≤ 4³ rows."""
    from .operators.rank import quantile_disc_slab

    stats = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("ck"))
        .agg(
            F.max("o_orderdate").alias("r"),
            F.count(F.lit(1)).alias("f"),
            F.round(stable_sum("o_totalprice"), 6).alias("m"),
        )
    )
    from .operators.staging import stage

    stats = stats.transform(stage)

    def quartiles(col, prefix):
        q = quantile_disc_slab(
            stats.select(F.lit("all").alias("g"), F.col(col).alias("v")),
            "g",
            "v",
            RFM_QUARTILES,
        )
        return q.select(
            *[F.col(a).alias(f"{prefix}_{a}") for a, _, _ in RFM_QUARTILES]
        )

    def score(col, prefix):
        return (
            F.lit(1)
            + F.when(F.col(col) > F.col(f"{prefix}_p25"), 1).otherwise(0)
            + F.when(F.col(col) > F.col(f"{prefix}_p50"), 1).otherwise(0)
            + F.when(F.col(col) > F.col(f"{prefix}_p75"), 1).otherwise(0)
        )

    scored = (
        stats.crossJoin(F.broadcast(quartiles("r", "r")))
        .crossJoin(F.broadcast(quartiles("f", "f")))
        .crossJoin(F.broadcast(quartiles("m", "m")))
        .select(
            "m",
            score("r", "r").alias("r_score"),
            score("f", "f").alias("f_score"),
            score("m", "m").alias("m_score"),
        )
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        # floor-form round6, not F.round: a decimal-sum/count quotient
        # can land exactly on a .5 boundary at the 6th decimal, where
        # Spark's HALF_UP and DuckDB's rounding disagree by 1 ulp
        round6(stable_avg("m")).alias("avg_monetary"),
    )


def _sql_customer_rfm() -> str:
    def qblock(metric: str) -> str:
        return f"""
{metric}q AS ({_sql_quantile_disc(
    f"(SELECT 'all' AS g, {metric} AS v FROM stats)",
    [(f"{metric}_{a}", num, den) for a, num, den in RFM_QUARTILES],
)})"""

    score = (
        "1 + (CASE WHEN {x} > {p}_p25 THEN 1 ELSE 0 END)"
        " + (CASE WHEN {x} > {p}_p50 THEN 1 ELSE 0 END)"
        " + (CASE WHEN {x} > {p}_p75 THEN 1 ELSE 0 END)"
    )
    return f"""
WITH stats AS MATERIALIZED (
  SELECT o_custkey AS ck, MAX(o_orderdate) AS r,
         CAST(COUNT(*) AS BIGINT) AS f,
         round({_ssum('o_totalprice')}, 6) AS m
  FROM orders GROUP BY 1
),{qblock('r')},{qblock('f')},{qblock('m')},
scored AS (
  SELECT m,
         {score.format(x='stats.r', p='r')} AS r_score,
         {score.format(x='stats.f', p='f')} AS f_score,
         {score.format(x='stats.m', p='m')} AS m_score
  FROM stats CROSS JOIN rq CROSS JOIN fq CROSS JOIN mq
)
SELECT r_score, f_score, m_score,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       {SQL_ROUND6.format(x=_savg('m', 'COUNT(*)'))} AS avg_monetary
FROM scored GROUP BY 1, 2, 3
"""


#: Bloom filter geometry for the pre-join filter audit: m bits, k hash
#: rows. Sized so the filter is useful at sf0.01 yet visibly imperfect
#: at sf0.1 (~13k member keys -> ~45% fill, measurable FP rate — the
#: thing the audit exists to measure).
BLOOM_BITS = 65536
BLOOM_HASHES = 3
#: Member set for the filter: customers with at least one urgent order
#: (a strict subset of all customers, so true negatives exist).
BLOOM_MEMBER_PRIORITY = "1-URGENT"


def q_bloom_join_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-join audit — build a deterministic Bloom filter
    over the customers who actually have orders, probe EVERY customer,
    and report the filter's selectivity next to ground truth (exact
    semi-join): pass count, false positives, false-positive rate, and
    the guaranteed-zero false-negative count. This is the runtime-
    filter pattern (Spark's own bloom pre-filtering) surfaced as an
    auditable query, with the portable md5 hash making both engines
    build the IDENTICAL bit set.

    Scale: the bit set is ≤ m rows after one distinct aggregate —
    broadcast against the probe side; the probe explodes a constant k
    positions per key (map-only fan-out), so no fact ever shuffles; the
    report is one row. ONE scan per table (r07 — the
    four-independent-counts form re-derived the probe/truth subtrees
    and scanned customer five times and orders four): the STAGED
    member-key set feeds the bit set AND the ground-truth marker, and
    every count falls out of one conditional aggregate over a single
    per-customer flag frame (pass = all k positions hit; truth =
    member-key match; FN = truth ∧ ¬pass, provably zero)."""
    from .functions.sketch import cms_buckets
    from .operators.staging import stage

    def positions(col):
        # reuse the CMS cell addressing: (j, b) with independent rows —
        # a Bloom filter is the 1-bit CMS, so sharing the addressing is
        # the honest relationship between the two sketches
        return cms_buckets(col, BLOOM_HASHES, BLOOM_BITS)

    members = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == BLOOM_MEMBER_PRIORITY)
        .select(F.col("o_custkey").cast("string").alias("k"))
        .distinct()
        .transform(stage)
    )
    bits = (
        members.select(F.explode(positions(F.col("k"))).alias("s"))
        .select("s.j", "s.b")
        .distinct()
        .withColumn("_bit", F.lit(1))
    )
    flags = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("ck"))
        .select("ck", F.explode(positions(F.col("ck").cast("string"))).alias("s"))
        .select("ck", "s.j", "s.b")
        .join(F.broadcast(bits), ["j", "b"], "left")
        .groupBy("ck")
        .agg(
            (
                F.sum(F.when(F.col("_bit").isNotNull(), 1).otherwise(0))
                == BLOOM_HASHES
            ).alias("_pass")
        )
        .join(
            # members (customers holding an urgent order) is an
            # unbounded fraction of the customer dimension — no
            # broadcast hint; the bit set above IS hint-broadcast
            # because it is <= m rows by construction
            members.withColumn("_m", F.lit(1)),
            F.col("ck").cast("string") == F.col("k"),
            "left",
        )
        .select("ck", "_pass", F.col("_m").isNotNull().alias("_true"))
    )
    def czsum(cond):
        # coalesce: SUM over an empty probe frame is NULL — the audit
        # of an empty dimension must report clean 0s like the oracle's
        # COUNT-based cells (same rule as fk_integrity_audit)
        return F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0))

    return flags.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        czsum(F.col("_true")).cast("long").alias("n_with_orders"),
        czsum(F.col("_pass")).cast("long").alias("n_bloom_pass"),
        czsum(F.col("_pass") & ~F.col("_true"))
        .cast("long")
        .alias("n_false_positives"),
        czsum(F.col("_true") & ~F.col("_pass"))
        .cast("long")
        .alias("n_false_negatives"),
        round6(
            czsum(F.col("_pass") & ~F.col("_true")).cast("double")
            / F.greatest(czsum(~F.col("_true")).cast("double"), F.lit(1.0))
        ).alias("fp_rate"),
    )


def _sql_bloom_join_filter() -> str:
    def pos(j: int, key: str) -> str:
        return (
            f"({_PORTABLE_HASH.format(s=f'''concat('{j}:', {key})''')}"
            f" % {BLOOM_BITS})"
        )

    bit_rows = " UNION ALL ".join(
        f"SELECT {j} AS j, {pos(j, 'k')} AS b FROM members"
        for j in range(BLOOM_HASHES)
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT ck, {j} AS j, {pos(j, 'CAST(ck AS VARCHAR)')} AS b FROM cust"
        for j in range(BLOOM_HASHES)
    )
    return f"""
WITH members AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS k FROM orders
              WHERE o_orderpriority = '{BLOOM_MEMBER_PRIORITY}'),
bits AS (SELECT DISTINCT j, b FROM ({bit_rows})),
cust AS (SELECT c_custkey AS ck FROM customer),
probe AS ({probe_rows}),
passed AS (
  SELECT ck FROM probe JOIN bits USING (j, b)
  GROUP BY ck HAVING COUNT(*) = {BLOOM_HASHES}
),
truth AS (
  SELECT ck FROM cust WHERE EXISTS
    (SELECT 1 FROM orders o WHERE o.o_custkey = cust.ck
       AND o.o_orderpriority = '{BLOOM_MEMBER_PRIORITY}')
),
agg AS (
  SELECT
    (SELECT CAST(COUNT(*) AS BIGINT) FROM cust) AS n_customers,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_with_orders,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM passed) AS n_bloom_pass,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM truth t
     WHERE NOT EXISTS (SELECT 1 FROM passed p WHERE p.ck = t.ck))
    AS n_false_negatives
)
SELECT n_customers, n_with_orders, n_bloom_pass,
       n_bloom_pass - n_with_orders AS n_false_positives,
       n_false_negatives,
       {SQL_ROUND6.format(x="CAST(n_bloom_pass - n_with_orders AS DOUBLE) / GREATEST(CAST(n_customers - n_with_orders AS DOUBLE), 1.0)")} AS fp_rate
FROM agg
"""


#: Attribution lookback: a purchase is credited to the most recent
#: click/view by the same user within this many microseconds.
ATTRIB_LOOKBACK_US = 3_600_000_000
#: Touch event types eligible for attribution credit.
ATTRIB_TOUCH_TYPES = ("click", "view")


def q_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution — every purchase is credited to
    the user's most recent click/view within a 1-hour lookback (or
    'none'): per touch type, attributed purchase count and revenue. The
    standard conversion-attribution report, done the streaming-friendly
    way (carry-forward state, no per-purchase search).

    Scale: ONE per-user window pass — ``last(touch, ignorenulls)``
    carries the latest touch forward, so there is no self-join of
    purchases against touch candidates (the naive O(events ×
    lookback) shape); the final aggregate is a bounded |touch types|+1
    row report with a decimal-stable revenue sum."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts_us", "event_type", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts_us").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_touch = F.col("event_type").isin(*ATTRIB_TOUCH_TYPES)
    touched = ev.select(
        "*",
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("_touch"),
        F.last(F.when(is_touch, F.col("ts_us")), ignorenulls=True)
        .over(w)
        .alias("_touch_ts"),
    )
    credited = touched.where(F.col("event_type") == "purchase").select(
        F.when(
            F.col("_touch_ts") >= F.col("ts_us") - F.lit(ATTRIB_LOOKBACK_US),
            F.col("_touch"),
        )
        .otherwise(F.lit("none"))
        .alias("touch_type"),
        "value",
    )
    return credited.groupBy("touch_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.round(stable_sum("value"), 6).alias("revenue"),
    )


SQL_PURCHASE_ATTRIBUTION = f"""
WITH touched AS (
  SELECT event_type, value,
         epoch_us(ts) AS ts_us,
         last_value(CASE WHEN event_type IN {ATTRIB_TOUCH_TYPES!r}
                         THEN event_type END IGNORE NULLS) OVER w AS _touch,
         last_value(CASE WHEN event_type IN {ATTRIB_TOUCH_TYPES!r}
                         THEN epoch_us(ts) END IGNORE NULLS) OVER w AS _touch_ts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
credited AS (
  SELECT CASE WHEN _touch_ts >= ts_us - {ATTRIB_LOOKBACK_US}
              THEN _touch ELSE 'none' END AS touch_type,
         value
  FROM touched WHERE event_type = 'purchase'
)
SELECT touch_type, CAST(COUNT(*) AS BIGINT) AS n_purchases,
       round({{ssum}}, 6) AS revenue
FROM credited GROUP BY touch_type
""".format(ssum=_ssum("value"))


#: FK relations audited by q_fk_integrity_audit:
#: (label, child table, child key, parent table, parent key).
FK_RELATIONS = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
)


def q_fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit of the whole star schema — for every
    FK relation: child row count, rows with a NULL key, and orphan rows
    whose key has no parent. The warehouse-grade constraint check an
    ingest pipeline runs before publishing a snapshot (zero rows in the
    orphan column = the contract holds).

    Scale: each relation is ONE key-only child pass (r07 — the
    anti-join + separate stats aggregate scanned every child twice;
    lineitem six times across its three FKs), and BOTH join sides are
    key-aggregated before the join: the child collapses to (key, n)
    via a map-side-combined count (NULL keys form their own group) and
    the parent to its distinct key set, so the orphan join is
    dim-sized × dim-sized no matter how large the fact is — the earlier
    forced broadcast of raw parent keys dies at 100 TB for the
    lineitem→orders relation (billions of keys), and joining raw child
    rows would shuffle the fact. AQE picks broadcast vs shuffle per
    relation. Row/null/orphan counts fall out of one conditional
    aggregate weighted by n; child scans read exactly the key column
    (pruned). The result is a bounded |relations|-row report unioned
    from 1-row aggregates."""
    out = None
    for label, child, ckey, parent, pkey in FK_RELATIONS:
        ck = (
            load_table(spark, sf_dir, child)
            .select(F.col(ckey).alias("k"))
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("_n"))
        )
        p_keys = (
            load_table(spark, sf_dir, parent)
            .select(F.col(pkey).alias("k"))
            .distinct()
            .withColumn("_hit", F.lit(1))
        )
        row = (
            ck.join(p_keys, "k", "left")
            .agg(
                # coalesce: SUM over an empty child relation is NULL —
                # the audit of an empty snapshot must report clean 0s
                # (matching the COUNT-based oracle), not NULL cells.
                F.coalesce(F.sum("_n"), F.lit(0))
                .cast("long")
                .alias("n_rows"),
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("k").isNull(), F.col("_n")
                        ).otherwise(0)
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias("n_null_keys"),
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("k").isNotNull() & F.col("_hit").isNull(),
                            F.col("_n"),
                        ).otherwise(0)
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias("n_orphans"),
            )
            .select(
                F.lit(label).alias("relation"),
                "n_rows",
                "n_null_keys",
                "n_orphans",
            )
        )
        out = row if out is None else out.unionAll(row)
    return out


def _sql_fk_integrity_audit() -> str:
    parts = []
    for label, child, ckey, parent, pkey in FK_RELATIONS:
        parts.append(f"""
SELECT '{label}' AS relation,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM {child}) AS n_rows,
       (SELECT CAST(COALESCE(SUM(CASE WHEN {ckey} IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
        FROM {child}) AS n_null_keys,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM {child} c
        WHERE c.{ckey} IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pkey} = c.{ckey}))
       AS n_orphans""")
    return " UNION ALL ".join(parts)


#: Reciprocal-rank-fusion constant (the standard 60 from Cormack et al.)
RRF_K = 60


def q_doc_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal rank fusion — the standard way
    to combine a lexical ranker (BM25 over the fixed query terms) with
    a dense ranker (exact cosine against doc 0's embedding, vec_id ↔
    doc_id aligned in the testdata): ``rrf = Σ_lists 1/(60 + rank)``,
    absent lists contributing 0 and rank 0 in the report (no NULLs —
    engine-portable canon).

    Scale: fusion happens strictly on the two SHORTLISTS — each ranker
    ends in TakeOrdered/top-k, so the rank windows and the full-outer
    join touch ≤ 2·topN rows of driver-bounded metadata, never the
    corpus. Both engines rank the cosine shortlist by round6(_sim)
    (the portable floor formula, applied before top-k AND before the
    rank window; the oracle's ORDER BY uses the same formula) with
    doc_id tie-break, so an ulp-level accumulation-order divergence
    between Spark's sequential zip_with fold and DuckDB's SUM(x*y)
    can never swap shortlist ranks cross-engine."""
    from pyspark.sql import Window

    bm = q_doc_bm25_topk(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    q, c = SIM.cosine_sides(emb.where(F.col("vec_id") == 0), emb, c_id="doc_id")
    scored = (
        c.join(F.broadcast(q), F.col("doc_id") != 0)
        .select("doc_id", round6(SIM.cosine_sim()).alias("_sim"))
    )
    short = top_k(
        scored, [F.col("_sim").desc(), F.col("doc_id").asc()], BM25_TOPN
    )
    bmr = bm.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()))
        .alias("bm25_rank"),
    )
    cr = short.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("_sim").desc(), F.col("doc_id").asc()))
        .alias("cos_rank"),
    )

    def _term(rank_col):
        return F.when(F.col(rank_col).isNull(), F.lit(0.0)).otherwise(
            F.lit(1.0) / (F.lit(float(RRF_K)) + F.col(rank_col))
        )

    return bmr.join(cr, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce(F.col("bm25_rank"), F.lit(0)).cast("long").alias("bm25_rank"),
        F.coalesce(F.col("cos_rank"), F.lit(0)).cast("long").alias("cos_rank"),
        round6(_term("bm25_rank") + _term("cos_rank")).alias("rrf_score"),
    )


def _sql_doc_hybrid_rrf() -> str:
    term = (
        "(CASE WHEN {r} IS NULL THEN 0.0"
        f" ELSE 1.0 / ({float(RRF_K)} + {{r}}) END)"
    )
    return f"""
WITH bm AS MATERIALIZED ({_sql_doc_bm25()}),
{_sql_cosine("vec_id = 0")},
cr0 AS (
  SELECT nid AS doc_id,
         row_number() OVER (
           ORDER BY {SQL_ROUND6.format(x='sim')} DESC, nid ASC
         ) AS cos_rank
  FROM cos
),
cr AS (SELECT doc_id, cos_rank FROM cr0 WHERE cos_rank <= {BM25_TOPN}),
bmr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS bm25_rank
  FROM bm
)
SELECT COALESCE(bmr.doc_id, cr.doc_id) AS doc_id,
       CAST(COALESCE(bm25_rank, 0) AS BIGINT) AS bm25_rank,
       CAST(COALESCE(cos_rank, 0) AS BIGINT) AS cos_rank,
       {SQL_ROUND6.format(x=term.format(r='bm25_rank') + ' + ' + term.format(r='cos_rank'))} AS rrf_score
FROM bmr FULL OUTER JOIN cr ON bmr.doc_id = cr.doc_id
"""


def q_event_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next_type | type), the behavioral model behind
    next-action prediction and anomalous-session scoring. Consecutive
    pairs come from a per-user lag window ordered by the total
    (ts_us, event_id) key; probabilities are row-normalized counts.

    Scale: the window partitions by user (bounded per-user history —
    the safe window axis), the matrix aggregate is |types|² rows, and
    the normalizing row totals are a WINDOW over that bounded matrix
    (r07 — the aggregate-joined-back form re-derived the whole lag
    pipeline: two events scans and two user-window shuffles for a
    25-row normalization) — corpus size only adds map tasks to the
    pair stage."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts_us", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").asc(), F.col("event_id").asc()
    )
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
        .select(F.col("event_type").alias("from_type"), "next_type")
    )
    m = pairs.groupBy("from_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    row_n = F.sum("n").over(Window.partitionBy("from_type"))
    return m.select(
        "from_type",
        "next_type",
        F.col("n").cast("long").alias("n"),
        round6(F.col("n") / row_n).alias("p"),
    )


SQL_MARKOV_TRANSITIONS = f"""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC
         ) AS next_type
  FROM events
),
m AS (
  SELECT event_type AS from_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY 1, 2
),
tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS row_n FROM m GROUP BY from_type)
SELECT m.from_type, m.next_type, m.n,
       {SQL_ROUND6.format(x='CAST(m.n AS DOUBLE) / tot.row_n')} AS p
FROM m JOIN tot USING (from_type)
"""


def plant_cross_lang_copies(docs: DataFrame) -> DataFrame:
    """Deterministic mislabeled-translation FIXTURE (shared by the Spark
    query and its DuckDB oracle): every 10th doc is re-injected with an
    ``alt-`` language tag and an id offset by 1e6. Exists because the
    driver's synthetic corpus has no natural cross-language copies
    (verified); factored out of the query (r5 VERDICT ask #5) so
    :func:`cross_lang_dups` itself stays corpus-pure."""
    copies = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.concat(F.lit("alt-"), F.col("lang")).alias("lang"),
        "text",
    )
    return docs.select("doc_id", "lang", "text").unionByName(copies)


def cross_lang_dups(corpus: DataFrame) -> DataFrame:
    """Cross-lingual duplicate detection over ANY (doc_id, lang, text)
    corpus: identical normalized content filed under DIFFERENT language
    tags — mislabeled or copied content a per-language dedup pass
    silently keeps twice. One fingerprint hash aggregate gated on
    distinct-language count; per group the member docs are reported as
    a deterministic sorted id string (no array output — driver
    canonicalizer contract).

    Scale: hash agg keyed by content fingerprint (map-side partials);
    groups are tiny (dup cardinality), so the collect_set/sort is
    per-group bounded work, not a corpus sort."""
    fp = F.md5(TX.normalize_text(F.col("text"))).alias("fp")
    g = (
        corpus.select(fp, "lang", "doc_id")
        .groupBy("fp")
        .agg(
            F.countDistinct("lang").alias("n_langs"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.array_join(
                F.array_sort(F.collect_set(F.col("doc_id").cast("string"))), ","
            ).alias("doc_ids"),
            F.array_join(F.array_sort(F.collect_set("lang")), ",").alias("langs"),
        )
    )
    return g.where(F.col("n_langs") > 1).select(
        "fp", F.col("n_langs").cast("long").alias("n_langs"), "n_docs",
        "langs", "doc_ids",
    )


def q_doc_cross_lang_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry wrapper: the corpus-pure detector run over the planted
    fixture corpus (see plant_cross_lang_copies for why planting is
    needed; the oracle mirrors the same planting in SQL)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return cross_lang_dups(plant_cross_lang_copies(d))


SQL_CROSS_LANG_DUPS = f"""
WITH corpus AS (
  SELECT doc_id, lang, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, 'alt-' || lang, text
  FROM documents WHERE doc_id % 10 = 0
),
f AS (
  SELECT md5({_norm('text')}) AS fp, lang, doc_id FROM corpus
),
g AS (
  SELECT fp,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         array_to_string(list_sort(list_distinct(list(CAST(doc_id AS VARCHAR)))), ',') AS doc_ids,
         array_to_string(list_sort(list_distinct(list(lang))), ',') AS langs
  FROM f GROUP BY fp
)
SELECT fp, n_langs, n_docs, langs, doc_ids FROM g WHERE n_langs > 1
"""


def q_part_type_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per part type — the trend-analytics
    shape (periodized aggregate + lag window + growth ratio) behind
    every BI dashboard. The window runs over the AGGREGATED
    (type, year) table — bounded by |types| × |years| at any corpus
    size — never over fact rows."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    # 4-dp-grid revenue -> exact int64 grid sum (r12, functions.gridsum)
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    yearly = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part.select("p_partkey", "p_type")), li.l_partkey == part.p_partkey)
        .groupBy(
            "p_type", F.year("o_orderdate").cast("long").alias("o_year")
        )
        .agg(grid_sum(rev, 4).alias("revenue"))
    )
    w = Window.partitionBy("p_type").orderBy("o_year")
    prev = F.lag("revenue").over(w)
    return yearly.select(
        "p_type",
        "o_year",
        "revenue",
        F.when(
            prev.isNotNull() & (prev != 0),
            round6((F.col("revenue") - prev) / prev),
        ).alias("yoy_growth"),
    )


SQL_PART_TYPE_YOY = f"""
WITH yearly AS (
  SELECT p_type, CAST(year(o_orderdate) AS BIGINT) AS o_year,
         {_ssum('l_extendedprice * (1.0 - l_discount)')} AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  GROUP BY p_type, CAST(year(o_orderdate) AS BIGINT)
)
SELECT p_type, o_year, revenue,
       CASE WHEN lag(revenue) OVER (PARTITION BY p_type ORDER BY o_year) IS NOT NULL
             AND lag(revenue) OVER (PARTITION BY p_type ORDER BY o_year) <> 0
            THEN {SQL_ROUND6.format(
                x='(revenue - lag(revenue) OVER (PARTITION BY p_type ORDER BY o_year))'
                  ' / lag(revenue) OVER (PARTITION BY p_type ORDER BY o_year)')}
       END AS yoy_growth
FROM yearly
"""


#: k-core parameters: peel nodes with degree < KCORE_K for KCORE_ROUNDS
#: fixed rounds (unrolled in the oracle — the GD-classifier discipline).
KCORE_K = 2
KCORE_ROUNDS = 4


def q_neardup_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peel over the near-dup graph — the density signal that
    separates tight template families (high-core nodes) from stragglers
    LSH happened to brush against (peeled away). Complements
    neardup_components (connectivity) and neardup_triangles (local
    clustering) with the classic global-density decomposition.

    At most ``KCORE_ROUNDS`` peel rounds (operators.graph.k_core), each
    removing nodes of degree < ``KCORE_K`` and their edges — the SQL
    twin unrolls all of them; the Spark loop stops at the fixed point,
    where the remaining layers are no-ops. All on the LSH-verified pair
    list, never the corpus."""
    from .operators.graph import k_core

    pairs = DD.minhash_lsh_pairs(_docs_with_tokens(spark, sf_dir))
    return k_core(pairs, KCORE_K, KCORE_ROUNDS).select(
        F.col("node").alias("doc_id"), F.col("deg").alias("core_deg")
    )


def _sql_neardup_kcore() -> str:
    # Each e{r} is referenced three times (degree count + two IN
    # filters); AS MATERIALIZED stops DuckDB from inlining the chain,
    # which would re-evaluate the LSH subquery ~3^rounds times.
    parts = [
        "WITH pairs AS MATERIALIZED "
        f"(SELECT id_a AS lo, id_b AS hi FROM ({_sql_minhash_lsh()}) q)",
        "e0 AS MATERIALIZED (SELECT lo, hi FROM pairs)",
    ]
    for r in range(KCORE_ROUNDS):
        parts.append(
            f"d{r} AS (SELECT v, COUNT(*) AS deg FROM "
            f"(SELECT lo AS v FROM e{r} UNION ALL SELECT hi FROM e{r}) GROUP BY v)"
        )
        parts.append(f"k{r} AS MATERIALIZED (SELECT v FROM d{r} WHERE deg >= {KCORE_K})")
        parts.append(
            f"e{r + 1} AS MATERIALIZED (SELECT lo, hi FROM e{r} "
            f"WHERE lo IN (SELECT v FROM k{r}) AND hi IN (SELECT v FROM k{r}))"
        )
    final = f"e{KCORE_ROUNDS}"
    return (
        ",\n".join(parts)
        + f"""
SELECT v AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_deg
FROM (SELECT lo AS v FROM {final} UNION ALL SELECT hi FROM {final})
GROUP BY v
"""
    )


def q_neardup_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join via lossless prefix filtering
    (AllPairs/PPJoin candidate rule) — ALL pairs with shingle Jaccard
    ≥ 0.5, no df-cap recall caveat. The oracle is the NAIVE inverted
    index + full Jaccard (a genuinely independent computation), which
    the prefix-filtered plan must reproduce exactly."""
    return DD.prefix_filter_pairs(_docs_with_tokens(spark, sf_dir))


SQL_PREFIX_PAIRS = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
grams AS (SELECT doc_id, unnest({_SHINGLES.format(t='t')}) AS g FROM toks),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM grams GROUP BY doc_id),
pr AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM grams a JOIN grams b ON b.g = a.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT id_a, id_b,
         {SQL_ROUND6.format(x='CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter)')} AS jaccard
  FROM pr JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
)
SELECT * FROM jac WHERE jaccard >= {DD.PREFIX_JACCARD}
"""


def q_sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked sorted-neighborhood entity-resolution candidates: sort
    within a blocking key (first normalized token), compare each doc to
    its next 3 neighbors in sort order, keep shingle-Jaccard ≥ 0.3 —
    O(n·w) comparisons, window partitioned per block."""
    return DD.sorted_neighborhood_pairs(_docs_with_tokens(spark, sf_dir))


SQL_SORTED_NEIGHBORHOOD = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
grams AS (SELECT doc_id, unnest({_SHINGLES.format(t='t')}) AS g FROM toks),
arrs AS (
  SELECT doc_id, list(g ORDER BY g) AS arr, CAST(COUNT(*) AS BIGINT) AS n
  FROM grams GROUP BY doc_id
),
base AS (
  SELECT doc_id, {_norm('text')} AS k,
         string_split({_norm('text')}, ' ')[1] AS blk
  FROM documents
),
rn AS (
  -- neighborhood ranks are defined over docs WITH shingles (< n-gram
  -- length docs have no set to score; the Spark side joins arrs before
  -- ranking for the same reason)
  SELECT doc_id, blk,
         ROW_NUMBER() OVER (PARTITION BY blk ORDER BY k ASC, doc_id ASC) AS r
  FROM base JOIN arrs USING (doc_id)
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(b.r - a.r AS BIGINT) AS gap
  FROM rn a JOIN rn b ON b.blk = a.blk AND b.r BETWEEN a.r + 1 AND a.r + {DD.SN_WINDOW}
),
jac AS (
  SELECT id_a, id_b, gap,
         {SQL_ROUND6.format(x='CAST(len(list_intersect(pa.arr, pb.arr)) AS DOUBLE) / (pa.n + pb.n - len(list_intersect(pa.arr, pb.arr)))')} AS jaccard
  FROM pairs JOIN arrs pa ON pa.doc_id = id_a JOIN arrs pb ON pb.doc_id = id_b
)
SELECT * FROM jac WHERE jaccard >= {DD.SN_JACCARD}
"""


def q_event_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most common 3-step event paths (consecutive per-user
    event-type trigrams) — the sequence-mining complement to the
    first-order Markov matrix.

    Scale: per-user lead window (the bounded axis), hash aggregate on
    the ≤|types|³ path space, TakeOrderedAndProject for the top-k."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts_us", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").asc(), F.col("event_id").asc()
    )
    tri = (
        ev.withColumn("t1", F.lead("event_type", 1).over(w))
        .withColumn("t2", F.lead("event_type", 2).over(w))
        .where(F.col("t1").isNotNull() & F.col("t2").isNotNull())
        .select(F.col("event_type").alias("t0"), "t1", "t2")
    )
    agg = tri.groupBy("t0", "t1", "t2").agg(F.count(F.lit(1)).alias("n_paths"))
    return top_k(
        agg,
        [
            F.col("n_paths").desc(),
            F.col("t0").asc(),
            F.col("t1").asc(),
            F.col("t2").asc(),
        ],
        20,
    )


SQL_EVENT_TOP_PATHS = """
WITH seq AS (
  SELECT event_type AS t0,
         lead(event_type, 1) OVER w AS t1,
         lead(event_type, 2) OVER w AS t2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC)
)
SELECT t0, t1, t2, CAST(COUNT(*) AS BIGINT) AS n_paths
FROM seq WHERE t1 IS NOT NULL AND t2 IS NOT NULL
GROUP BY t0, t1, t2
ORDER BY n_paths DESC, t0 ASC, t1 ASC, t2 ASC
LIMIT 20
"""


#: KMV sketch size. 64 keeps the estimator's relative error ~1/sqrt(62)
#: ≈ 13% while the sketch stays a driver-metadata-sized row per group.
KMV_K = 64

#: Per-language priority-sample size.
PRIORITY_K = 20


def q_user_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct sketch of users per
    event type — the mergeable distinct-count sketch behind
    approx_count_distinct, made ORACLE-CHECKABLE by determinism: the
    "randomness" is the portable md5 hash, so both engines materialize
    the identical sketch and the identical estimate (est =
    (k-1)·2³²/h_(k) for full sketches, exact count for partial ones).

    Scale: one distinct hash-aggregate, then the slab bottom-k
    (operators.rank.bottom_k_slab) — never a one-task-per-type sort;
    the sketch itself is k rows per group (mergeable across shards by
    construction: union → bottom-k again)."""
    from .operators.rank import bottom_k_slab

    hashed = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            TX.portable_hash(F.col("user_id").cast("string")).alias("h"),
        )
        .distinct()
    )
    kept = bottom_k_slab(hashed, ["event_type"], "h", KMV_K, ["h"])
    n_kept = F.count(F.lit(1))
    kth = F.max("h")
    return kept.groupBy("event_type").agg(
        n_kept.cast("long").alias("n_kept"),
        kth.alias("kth_hash"),
        F.when(n_kept < KMV_K, n_kept.cast("double"))
        .otherwise(
            round6(F.lit(float(KMV_K - 1)) * F.lit(4294967296.0) / kth.cast("double"))
        )
        .alias("est_users"),
    )


SQL_USER_DISTINCT_SKETCH = f"""
WITH uh AS (
  SELECT DISTINCT event_type,
         {_PORTABLE_HASH.format(s='CAST(user_id AS VARCHAR)')} AS h
  FROM events
),
rk AS (
  SELECT event_type, h,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h ASC) AS rn
  FROM uh
),
kept AS (SELECT event_type, h FROM rk WHERE rn <= {KMV_K})
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_kept, MAX(h) AS kth_hash,
       CASE WHEN COUNT(*) < {KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
            ELSE {SQL_ROUND6.format(x=f'{float(KMV_K - 1)} * 4294967296.0 / CAST(MAX(h) AS DOUBLE)')}
       END AS est_users
FROM kept GROUP BY event_type
"""


def q_user_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch SET ALGEBRA: for every event-type pair, estimate the
    union size, intersection size and Jaccard of their user sets from
    the two k=64 sketches alone — the mergeable-sketch property that
    lets 1000 executors sketch shards independently and combine results
    in driver-metadata space. Membership of a union-bottom-k hash in
    each side's sketch is EXACT (h among the k smallest of A∪B and in A
    ⟹ h among the k smallest of A), so the estimator is deterministic
    and fully oracle-checkable.

    Scale: sketches are k rows per group (bounded by construction);
    everything after the corpus-side distinct aggregate operates on
    |types|·k rows — equi-joins only, and the pair expansion is over
    the bounded type dimension, never facts."""
    from .operators.rank import bottom_k_slab

    hashed = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            TX.portable_hash(F.col("user_id").cast("string")).alias("h"),
        )
        .distinct()
    )
    # The sketch is referenced three times (type dim + both join sides);
    # stage it so the corpus-side distinct runs ONCE — the sketch itself
    # is |types|·k rows, checkpointing it is free.
    from .operators.staging import stage

    sk = (
        bottom_k_slab(hashed, ["event_type"], "h", KMV_K, ["h"])
        .select("event_type", "h")
        .transform(stage)
    )
    types = sk.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("type_a"))
        .crossJoin(types.select(F.col("event_type").alias("type_b")))
        .where(F.col("type_a") < F.col("type_b"))
    )
    a_part = pairs.join(
        sk.withColumnRenamed("event_type", "type_a"), "type_a"
    ).select("type_a", "type_b", "h", F.lit(1).alias("ia"), F.lit(0).alias("ib"))
    b_part = pairs.join(
        sk.withColumnRenamed("event_type", "type_b"), "type_b"
    ).select("type_a", "type_b", "h", F.lit(0).alias("ia"), F.lit(1).alias("ib"))
    ph = (
        a_part.unionAll(b_part)
        .groupBy("type_a", "type_b", "h")
        .agg(F.max("ia").alias("in_a"), F.max("ib").alias("in_b"))
    )
    kept = bottom_k_slab(ph, ["type_a", "type_b"], "h", KMV_K, ["h"])
    n_kept = F.count(F.lit(1))
    agg = kept.groupBy("type_a", "type_b").agg(
        n_kept.cast("long").alias("n_kept"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_both"),
        F.max("h").alias("_hk"),
    )
    est_union = F.when(
        F.col("n_kept") < KMV_K, F.col("n_kept").cast("double")
    ).otherwise(
        round6(
            F.lit(float(KMV_K - 1)) * F.lit(4294967296.0) / F.col("_hk").cast("double")
        )
    )
    with_union = agg.withColumn("est_union", est_union)
    rho = F.col("n_both").cast("double") / F.col("n_kept").cast("double")
    return with_union.select(
        "type_a",
        "type_b",
        "n_kept",
        "n_both",
        "est_union",
        round6(rho).alias("jaccard_est"),
        round6(rho * F.col("est_union")).alias("est_inter"),
    )


SQL_USER_OVERLAP_SKETCH = f"""
WITH uh AS (
  SELECT DISTINCT event_type,
         {_PORTABLE_HASH.format(s='CAST(user_id AS VARCHAR)')} AS h
  FROM events
),
sk AS (
  SELECT event_type, h FROM (
    SELECT event_type, h,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h ASC) AS rn
    FROM uh
  ) WHERE rn <= {KMV_K}
),
tp AS (SELECT DISTINCT event_type FROM sk),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM tp a JOIN tp b ON a.event_type < b.event_type
),
ph AS (
  SELECT type_a, type_b, h, MAX(ia) AS in_a, MAX(ib) AS in_b FROM (
    SELECT p.type_a, p.type_b, s.h, 1 AS ia, 0 AS ib
    FROM pairs p JOIN sk s ON s.event_type = p.type_a
    UNION ALL
    SELECT p.type_a, p.type_b, s.h, 0 AS ia, 1 AS ib
    FROM pairs p JOIN sk s ON s.event_type = p.type_b
  ) GROUP BY 1, 2, 3
),
kept AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY type_a, type_b ORDER BY h ASC) AS rn
    FROM ph
  ) WHERE rn <= {KMV_K}
),
agg AS (
  SELECT type_a, type_b, CAST(COUNT(*) AS BIGINT) AS n_kept,
         CAST(SUM(in_a * in_b) AS BIGINT) AS n_both, MAX(h) AS hk
  FROM kept GROUP BY 1, 2
),
wu AS (
  SELECT type_a, type_b, n_kept, n_both,
         CASE WHEN n_kept < {KMV_K} THEN CAST(n_kept AS DOUBLE)
              ELSE {SQL_ROUND6.format(x=f'{float(KMV_K - 1)} * 4294967296.0 / CAST(hk AS DOUBLE)')}
         END AS est_union
  FROM agg
)
SELECT type_a, type_b, n_kept, n_both, est_union,
       {SQL_ROUND6.format(x='CAST(n_both AS DOUBLE) / CAST(n_kept AS DOUBLE)')} AS jaccard_est,
       {SQL_ROUND6.format(x='CAST(n_both AS DOUBLE) / CAST(n_kept AS DOUBLE) * est_union')} AS est_inter
FROM wu
"""


def q_doc_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional corpus subsample via **priority sampling**
    (Duffield–Lund–Thorup): priority = weight/u with u the doc's
    portable-hash uniform, keep the k largest per language. Longer docs
    (weight = n_chars) are proportionally likelier to be kept, the
    sample is deterministic/reproducible (hash-derived u, the repo's
    content-hash sampling discipline), and — unlike ln/pow-based
    Efraimidis–Spirakis keys — the priority is a pure integer rational,
    so both engines compute bit-identical doubles.

    Scale: map-only priority computation + the slab bottom-k; no
    per-language global sort."""
    from .operators.rank import bottom_k_slab

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "n_chars",
        TX.portable_hash(F.col("doc_id").cast("string")).alias("_h"),
    )
    # priority = n_chars * 2^32 / (h+1); h+1 in [1, 2^32] keeps u in (0,1]
    pr = (F.col("n_chars").cast("double") * F.lit(4294967296.0)) / (
        F.col("_h") + F.lit(1)
    ).cast("double")
    ranked = bottom_k_slab(
        d.withColumn("_pr", pr),
        ["lang"],
        "_pr",
        PRIORITY_K,
        ["doc_id"],
        ascending=False,
        rank_alias="rank_in_lang",
    )
    return ranked.select(
        "lang",
        F.col("rank_in_lang").cast("long").alias("rank_in_lang"),
        "doc_id",
        "n_chars",
        round6(F.col("_pr")).alias("priority"),
    )


SQL_PRIORITY_SAMPLE = f"""
WITH base AS (
  SELECT doc_id, lang, n_chars,
         CAST(n_chars AS DOUBLE) * 4294967296.0
           / CAST({_PORTABLE_HASH.format(s='CAST(doc_id AS VARCHAR)')} + 1 AS DOUBLE) AS pr
  FROM documents
),
rk AS (
  SELECT lang, doc_id, n_chars, pr,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY pr DESC, doc_id ASC) AS rn
  FROM base
)
SELECT lang, CAST(rn AS BIGINT) AS rank_in_lang, doc_id, n_chars,
       {SQL_ROUND6.format(x='pr')} AS priority
FROM rk WHERE rn <= {PRIORITY_K}
"""


#: Order-value quantiles per priority.
ORDER_PRICE_QS = [("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)]


def q_order_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete p50/p90/p99 of order value per order priority —
    the distributed-exact-quantile operator (operators.rank.
    quantile_disc_slab): histogram aggregate + cumulative window over
    the bounded (group, value) table, conditional MIN selects the
    quantile. Integer-arithmetic target ranks keep both engines exact;
    no per-group sort anywhere."""
    from .operators.rank import quantile_disc_slab

    return quantile_disc_slab(
        load_table(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice"),
        "o_orderpriority",
        "o_totalprice",
        ORDER_PRICE_QS,
        count_alias="n_orders",
    )


SQL_ORDER_PRICE_QUANTILES = f"""
WITH q AS ({_sql_quantile_disc(
    "(SELECT o_orderpriority AS g, o_totalprice AS v FROM orders)",
    ORDER_PRICE_QS,
    "n_orders",
)})
SELECT g AS o_orderpriority, n_orders, p50, p90, p99 FROM q
"""


def q_order_price_rank_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable RANK sketch (operators.qsketch — dyadic count-min,
    Cormode–Muthukrishnan 2005 §4.2): approximate p50/p90/p99 of order
    value per priority from an O(log U · d · w) counter table — the
    sketch-family completion (distinct=KMV, frequency=CMS,
    membership=Bloom, rank=this) and the streaming-friendly twin of
    the exact `order_price_quantiles`.

    FULL SQL oracle (r10 — previously no-oracle tail): the estimate
    depends only on the deterministic xxhash64 cell addressing, so
    `_sql_rank_sketch` replicates Spark's XxHash64 long path in DuckDB
    HUGEINT arithmetic and unrolls the identical tree descent — the
    collision structure is part of the definition, exactly like the
    CMS heavy-hitters and PQ codebook oracles. Accuracy (not just
    reproducibility) stays pinned by the one-sided error-bound tests
    in tests/test_rank.py (descent never overshoots the exact
    quantile; rank shortfall ≤ the levels·e·n/width CMS budget).

    Scale: constant levels×depth explode off ONE orders scan, map-side
    combined to ≤ groups·levels·depth·width cells; the driver holds
    only that bounded counter table (k×dim-metadata convention) for
    the per-quantile tree descent."""
    from .operators.qsketch import build_rank_sketch, sketch_quantiles

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("_cents"),
    )
    cells = build_rank_sketch(orders)
    cell_rows = cells.collect()
    # r12: per-group totals fall out of the sketch itself — every
    # (non-null-value) row lands in exactly one bucket of each
    # (lvl, j) pair, so summing the full width at (lvl=0, j=0) IS the
    # group count. The separate count aggregate was a second full
    # orders scan for a number the collected counter table already
    # holds. (o_totalprice is never NULL in this schema. NB if it ever
    # were: Spark's xxhash64 SKIPS null children — it returns the
    # running seed rather than NULL — so a NULL _cents row would still
    # emit (lvl, j) cells and be counted in these derived totals; to
    # get drop-the-row semantics on a nullable column, filter NULLs
    # before build_rank_sketch.)
    totals: dict = {}
    for r in cell_rows:
        if r["lvl"] == 0 and r["j"] == 0:
            totals[r["g"]] = totals.get(r["g"], 0) + r["c"]
    return sketch_quantiles(spark, cell_rows, totals)


def _sql_rank_sketch() -> str:
    """DuckDB twin of the dyadic-CMS rank sketch (r09 VERDICT ask #4).

    The sketch is fully deterministic given its hash family, so the
    oracle rebuilds the identical counter table and walks the identical
    tree descent: Spark's XxHash64 long path is replicated in pure SQL
    over HUGEINT — 64-bit wraparound multiplication via split 32-bit
    partial products (DuckDB UBIGINT arithmetic raises on overflow
    instead of wrapping), rotations as shift-and-add, xor() natively.

    Two structural constraints, both measured:

    * every hash mixing step is its OWN CTE stage — DuckDB inlines
      lateral column aliases, so a single-SELECT chain of the 24
      dependent steps explodes to ~2^24 expression nodes and hangs the
      planner;
    * the build hashes only the DISTINCT (level, bucket) pairs and
      joins back to the fact rows, so the expensive staged hashing runs
      on the value-domain table, not the row stream.

    The descent is unrolled level-by-level (the LPA/k-core fixed-round
    discipline): at each level the ≤16 children's CMS point queries
    (min over depth rows, absent cell = 0 — but the PROBE's hash is
    always computed, so collisions overcount exactly as in
    operators.qsketch.estimate_interval) feed a first-child-that-fits
    selection with running prior subtraction, replicating
    descend_quantile's sibling walk."""
    from .operators.qsketch import (
        QSKETCH_BRANCH,
        QSKETCH_BRANCH_BITS,
        QSKETCH_DEPTH,
        QSKETCH_LEVELS,
        QSKETCH_QUANTILES,
        QSKETCH_WIDTH,
    )

    m64 = 1 << 64
    p1 = 0x9E3779B185EBCA87
    p2 = 0xC2B2AE3D27D4EB4F
    p3 = 0x165667B19E3779F9
    p4 = 0x85EBCA77C2B2AE63
    p5 = 0x27D4EB2F165667C5
    width = QSKETCH_WIDTH
    levels = QSKETCH_LEVELS
    depth = QSKETCH_DEPTH
    branch = QSKETCH_BRANCH
    bits = QSKETCH_BRANCH_BITS

    def mul64(a: str, b: int | str) -> str:
        return (
            f"((({a})%4294967296)*(({b})%4294967296)"
            f" + (((({a})//4294967296)*(({b})%4294967296)"
            f" + (({a})%4294967296)*(({b})//4294967296))%4294967296)"
            f"*4294967296) % {m64}"
        )

    def rotl(x: str, r: int) -> str:
        lo = 1 << (64 - r)
        return f"((({x})%{lo})*{1 << r} + ({x})//{lo})"

    ctes: list[str] = []

    def hash_pipe(prefix: str, src: str, keep: list[str]) -> str:
        """CTE stages turning columns (j, lvl, bucket) of ``src`` into
        the cell address ``b`` (chained xxhash64, seed 42, pmod width),
        threading ``keep`` through; returns the final CTE name."""
        keep_sql = ", ".join(keep)
        cur = src

        def stage(name: str, exprs: list[str]) -> None:
            nonlocal cur
            ctes.append(
                f"{prefix}_{name} AS (SELECT {keep_sql}, "
                f"{', '.join(exprs)} FROM {cur})"
            )
            cur = f"{prefix}_{name}"

        def xx64(tag: str, value: str, seed: str) -> None:
            stage(f"{tag}1", [f"(({seed}) + {p5 + 8}) % {m64} AS acc",
                              f"{mul64(value, p2)} AS t"])
            stage(f"{tag}2", ["acc", f"{mul64(rotl('t', 31), p1)} AS k1"])
            stage(f"{tag}3",
                  [f"({mul64(rotl('xor(acc, k1)', 27), p1)} + {p4}) % {m64} AS hv"])
            stage(f"{tag}4", ["xor(hv, hv // 8589934592) AS hv2"])  # >>33
            stage(f"{tag}5", [f"{mul64('hv2', p2)} AS hv3"])
            stage(f"{tag}6", ["xor(hv3, hv3 // 536870912) AS hv4"])  # >>29
            stage(f"{tag}7", [f"{mul64('hv4', p3)} AS hv5"])
            stage(f"{tag}8", [f"xor(hv5, hv5 // 4294967296) AS {tag}"])  # >>32

        xx64("xa", "CAST(j AS HUGEINT)", "CAST(42 AS HUGEINT)")
        xx64("xb", "CAST(lvl AS HUGEINT)", "xa")
        xx64("xc", "CAST(bucket AS HUGEINT)", "xb")
        signed = f"(CASE WHEN xc >= {1 << 63} THEN xc - {m64} ELSE xc END)"
        stage("bfin", [
            f"CAST((({signed}) % {width} + {width}) % {width} AS BIGINT) AS b"
        ])
        return cur

    ctes.append(
        "vals AS (SELECT o_orderpriority AS g, "
        "CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v FROM orders)"
    )
    ctes.append("totals AS (SELECT g, COUNT(*) AS n FROM vals GROUP BY g)")
    ctes.append(f"lvls AS (SELECT UNNEST(range({levels})) AS lvl)")
    ctes.append(f"js AS (SELECT UNNEST(range({depth})) AS j)")
    ctes.append(
        f"bkt AS (SELECT DISTINCT lvl, v >> (lvl * {bits}) AS bucket "
        "FROM vals CROSS JOIN lvls)"
    )
    ctes.append("probe_build AS (SELECT j, lvl, bucket FROM bkt CROSS JOIN js)")
    hb = hash_pipe("hb", "probe_build", ["j", "lvl", "bucket"])
    ctes.append(
        "cells AS (SELECT t.g, t.lvl, h.j, h.b, CAST(COUNT(*) AS BIGINT) AS c "
        f"FROM (SELECT g, lvl, v >> (lvl * {bits}) AS bucket "
        "FROM vals CROSS JOIN lvls) t "
        f"JOIN {hb} h ON h.lvl = t.lvl AND h.bucket = t.bucket "
        "GROUP BY 1, 2, 3, 4)"
    )
    qq = ", ".join(f"('{name}', {num}, {den})" for name, num, den in QSKETCH_QUANTILES)
    ctes.append(
        "targets AS (SELECT g, qname, (num * n + den - 1) // den AS remaining "
        f"FROM totals CROSS JOIN (VALUES {qq}) AS qq(qname, num, den))"
    )
    ctes.append(
        f"st{levels} AS (SELECT g, qname, CAST(0 AS BIGINT) AS p, remaining "
        "FROM targets)"
    )
    probe_keep = ["g", "qname", "remaining", "cidx", "bucket", "lvl", "j"]
    for lvl in range(levels - 1, -1, -1):
        ctes.append(
            f"pr{lvl} AS (SELECT g, qname, remaining, cc.c AS cidx, "
            f"p * {branch} + cc.c AS bucket, CAST({lvl} AS BIGINT) AS lvl, j "
            f"FROM st{lvl + 1} "
            f"CROSS JOIN (SELECT UNNEST(range({branch})) AS c) cc "
            "CROSS JOIN js)"
        )
        hd = hash_pipe(f"hd{lvl}", f"pr{lvl}", probe_keep)
        ctes.append(
            f"est{lvl} AS (SELECT h.g, h.qname, h.remaining, h.cidx, h.bucket, "
            "MIN(COALESCE(cl.c, 0)) AS cnt "
            f"FROM {hd} h LEFT JOIN cells cl ON cl.g = h.g AND cl.lvl = h.lvl "
            "AND cl.j = h.j AND cl.b = h.b GROUP BY 1, 2, 3, 4, 5)"
        )
        ctes.append(
            f"sel{lvl} AS (SELECT *, COALESCE(SUM(cnt) OVER ("
            "PARTITION BY g, qname ORDER BY cidx "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior "
            f"FROM est{lvl})"
        )
        ctes.append(
            f"st{lvl} AS (SELECT g, qname, bucket AS p, "
            "remaining - prior AS remaining FROM ("
            "SELECT *, ROW_NUMBER() OVER (PARTITION BY g, qname "
            f"ORDER BY cidx) AS rn FROM sel{lvl} "
            f"WHERE remaining - prior <= cnt OR cidx = {branch - 1}"
            ") WHERE rn = 1)"
        )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        "SELECT t.g AS o_orderpriority, CAST(MIN(t.n) AS BIGINT) AS n_orders,\n"
        "       MAX(CASE WHEN s.qname = 'p50' THEN s.p END) / 100.0 AS p50,\n"
        "       MAX(CASE WHEN s.qname = 'p90' THEN s.p END) / 100.0 AS p90,\n"
        "       MAX(CASE WHEN s.qname = 'p99' THEN s.p END) / 100.0 AS p99\n"
        "FROM st0 s JOIN totals t USING (g)\n"
        "GROUP BY t.g"
    )


#: Fixed LPA rounds — unrolled in the oracle like KCORE_ROUNDS/the GD
#: classifier; deterministic tie-break makes every round reproducible.
LPA_ROUNDS = 4


def q_neardup_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-synchronous LABEL PROPAGATION over the near-dup graph —
    communities, not just connectivity: a node adopts the most frequent
    label among its neighbors each round (ties → smallest label), so
    dense template families separate even inside one connected
    component. Fixed ``LPA_ROUNDS`` rounds with a deterministic
    tie-break make both engines bit-equal (the kcore/GD-classifier
    discipline); operators.graph.label_propagation holds the rounds.
    Edge list = the LSH-verified pairs, never the corpus."""
    from .operators.graph import label_propagation

    pairs = DD.minhash_lsh_pairs(_docs_with_tokens(spark, sf_dir))
    return label_propagation(pairs, LPA_ROUNDS).select(
        F.col("node").alias("doc_id"), F.col("label").cast("long").alias("community")
    )


def _sql_neardup_communities() -> str:
    parts = [
        "WITH pairs AS MATERIALIZED "
        f"(SELECT id_a, id_b FROM ({_sql_minhash_lsh()}) q)",
        "edges AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM pairs "
        "UNION ALL SELECT id_b, id_a FROM pairs)",
        "l0 AS (SELECT DISTINCT s AS v, s AS label FROM edges)",
    ]
    for r in range(LPA_ROUNDS):
        parts.append(
            f"c{r} AS (SELECT e.d AS v, l.label, COUNT(*) AS c "
            f"FROM edges e JOIN l{r} l ON l.v = e.s GROUP BY 1, 2)"
        )
        parts.append(
            f"l{r + 1} AS MATERIALIZED (SELECT v, label FROM ("
            f"SELECT v, label, ROW_NUMBER() OVER ("
            f"PARTITION BY v ORDER BY c DESC, label ASC) AS rn FROM c{r}"
            f") WHERE rn = 1)"
        )
    return (
        ",\n".join(parts)
        + f"""
SELECT v AS doc_id, CAST(label AS BIGINT) AS community FROM l{LPA_ROUNDS}
"""
    )


#: Minimum co-occurrence count for the PMI table — keeps the output the
#: statistically meaningful pairs (and bounded).
PMI_MIN_PAIRS = 5


#: Co-occurrence window: tokens within ±W positions co-occur (the
#: word2vec/GloVe convention). The windowed definition is what keeps
#: the pair expansion LINEAR in document length (n·W events per doc) —
#: whole-document co-occurrence is per-doc vocab², a quadratic trap on
#: long documents.
PMI_COOC_WINDOW = 5


def _token_pos_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged positional (doc_id, pos, tok) token index — the shared
    base of the co-occurrence family (token_pmi, token_textrank)."""
    from .operators.staging import stage

    return (
        _docs_with_tokens(spark, sf_dir)
        .select(
            "doc_id",
            F.posexplode(TX.tokens(F.col("text"))).alias("pos", "tok"),
        )
        .where(F.col("tok") != "")
        .transform(stage)
    )


def _token_pair_counts(
    spark: SparkSession, sf_dir: str, toks: DataFrame | None = None
) -> DataFrame:
    """Windowed token co-occurrence counts ``(tok_a < tok_b, n_ab ≥
    PMI_MIN_PAIRS)`` — the edge list shared by token_pmi and
    token_textrank. The right-context positions explode map-only
    (constant W fan-out) and close with an EQUI-join on (doc_id, pos)
    — the phrase-search trick — so pair volume is n·W per doc, never a
    doc-level self-join's n². Pass ``toks`` to reuse an already-staged
    index."""
    if toks is None:
        toks = _token_pos_index(spark, sf_dir)
    ctx = toks.select(
        "doc_id",
        F.col("tok").alias("tok_l"),
        F.explode(
            F.array(
                *[
                    (F.col("pos") + k)
                    for k in range(1, PMI_COOC_WINDOW + 1)
                ]
            )
        ).alias("pos"),
    )
    ev = (
        ctx.join(toks, ["doc_id", "pos"])
        .where(F.col("tok_l") != F.col("tok"))
        .select(
            F.least("tok_l", "tok").alias("tok_a"),
            F.greatest("tok_l", "tok").alias("tok_b"),
        )
    )
    return (
        ev.groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= PMI_MIN_PAIRS)
    )


#: Shared SQL twin of the co-occurrence base (toks + pairs CTE bodies).
_SQL_TOKEN_PAIRS_CTES = """toks AS MATERIALIZED (
  SELECT doc_id, pos, tok FROM (
    SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS tok
    FROM (SELECT doc_id, {toks_expr} AS t FROM documents)
  ) WHERE tok <> ''
),
ctx AS (
  SELECT doc_id, tok AS tok_l, pos + k AS pos
  FROM toks CROSS JOIN (SELECT unnest(generate_series(1, {window})) AS k)
),
pairs AS (
  SELECT LEAST(c.tok_l, t.tok) AS id_a, GREATEST(c.tok_l, t.tok) AS id_b,
         CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM ctx c JOIN toks t USING (doc_id, pos)
  WHERE c.tok_l <> t.tok
  GROUP BY 1, 2
  HAVING COUNT(*) >= {min_pairs}
)"""


def q_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of token pairs co-occurring in
    documents — the corpus-linguistics co-occurrence matrix behind
    collocation mining and embedding pre-analysis.

    ``pmi(a,b) = ln(n_ab·N / (n_a·n_b))`` over windowed co-occurrence
    events (±PMI_COOC_WINDOW positions, the word2vec convention) and
    token occurrence marginals, with identical operation order in both
    engines and the transcendental rounded via the PORTABLE round6
    formula (functions.rounding) — F.round's HALF_UP vs DuckDB's
    scaled-double round disagree at .5 boundaries, the exact engine
    pair quarantined everywhere else; pmi may be negative, where
    round6 is half-toward-+inf in BOTH engines (still bit-identical).

    Scale: the pair expansion is a constant-W map-only context explode
    closed by an EQUI-join on (doc_id, pos) — n·W events per doc,
    LINEAR in document length (whole-doc co-occurrence is per-doc
    vocab², a quadratic trap); marginals are one hash aggregate and
    the corpus token count is a 1-row broadcast."""
    toks = _token_pos_index(spark, sf_dir)
    n_tok = toks.agg(F.count(F.lit(1)).alias("n_tok"))
    tfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n_t"))
    pairs = _token_pair_counts(spark, sf_dir, toks=toks)
    # marginal joins carry NO broadcast hint: tfreq is vocab-sized, and
    # a web-scale vocab (every typo/number is a token) can exceed any
    # broadcast budget — AQE converts to broadcast at runtime whenever
    # the aggregated table is actually small (runtime sizes, not the
    # static estimate), and falls back to a co-keyed shuffle otherwise.
    return (
        pairs.join(tfreq.withColumnRenamed("tok", "tok_a"), "tok_a")
        .withColumnRenamed("n_t", "n_a")
        .join(tfreq.withColumnRenamed("tok", "tok_b"), "tok_b")
        .withColumnRenamed("n_t", "n_b")
        .crossJoin(F.broadcast(n_tok))
        .select(
            "tok_a",
            "tok_b",
            F.col("n_ab").cast("long").alias("n_ab"),
            round6(
                F.log(
                    (F.col("n_ab").cast("double") * F.col("n_tok"))
                    / (F.col("n_a").cast("double") * F.col("n_b"))
                )
            ).alias("pmi"),
        )
    )


def _sql_token_pmi() -> str:
    base = _SQL_TOKEN_PAIRS_CTES.format(
        toks_expr=_TOKS,
        window=PMI_COOC_WINDOW,
        min_pairs=PMI_MIN_PAIRS,
    )
    return f"""
WITH {base},
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tok FROM toks),
tfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_t FROM toks GROUP BY tok)
SELECT id_a AS tok_a, id_b AS tok_b, n_ab,
       {SQL_ROUND6.format(x='ln((CAST(n_ab AS DOUBLE) * n_tok) / (CAST(fa.n_t AS DOUBLE) * fb.n_t))')} AS pmi
FROM pairs
JOIN tfreq fa ON fa.tok = id_a
JOIN tfreq fb ON fb.tok = id_b
CROSS JOIN nt
"""


def q_token_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword scoring — PageRank centrality over the
    document-level token co-occurrence graph (Mihalcea & Tarau): the
    unsupervised keyword-extraction signal that beats raw frequency by
    rewarding tokens that co-occur with many other well-connected
    tokens.

    Scale: the edge list is the bounded co-occurrence table
    (_token_pair_counts — df-floored, vocab-sized, never corpus-sized);
    each PageRank sweep is one equi-join + one decimal-summed aggregate
    (operators.graph.pagerank discipline), and the oracle unrolls the same
    fixed sweeps via the shared _sql_pagerank_chain."""
    from .operators.graph import pagerank

    edges = _token_pair_counts(spark, sf_dir).select(
        F.col("tok_a").alias("id_a"), F.col("tok_b").alias("id_b")
    )
    pr = pagerank(edges)
    return pr.select(
        F.col("node").alias("token"),
        F.col("deg").cast("long").alias("deg"),
        "rank",
    )


def _sql_token_textrank() -> str:
    return _sql_pagerank_chain(
        _SQL_TOKEN_PAIRS_CTES.format(
            toks_expr=_TOKS,
            window=PMI_COOC_WINDOW,
            min_pairs=PMI_MIN_PAIRS,
        ),
        "token",
    )


#: Sorted-neighborhood window for the link-prediction candidate graph.
LINKPRED_WINDOW = 3


def q_neardup_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction over the entity-resolution BLOCKING
    graph — scores NON-adjacent doc pairs by their shared neighbors,
    weighting rare neighbors higher (``Σ 1/ln(deg(w))``): "these two
    records were never directly compared by the sliding window, but
    they share well-connected neighborhood structure — compare them
    next." The classic recall-booster on top of sorted-neighborhood
    blocking (the verified LSH graph is pure cliques at every SF —
    already-closed triangles have nothing to predict, verified).

    Scale: edges are the O(n·w) blocking-window pairs (per-block lead
    windows — never a global sort); wedges join edge×edge on the middle
    vertex (Σ deg² with deg ≤ 2w, so wedge volume is linear in docs),
    existing edges drop via one LEFT ANTI equi-join, and degrees ride a
    broadcast. Per-term contributions are round6'd then decimal-summed
    (the entropy/BM25 discipline), so the score is engine- and
    order-independent. deg(w) ≥ 2 for every wedge middle by
    construction, so ln(deg) > 0 always."""
    from pyspark.sql import Window

    from .functions.text import normalize_text
    from .operators.staging import stage

    base = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", normalize_text(F.col("text")).alias("_k"))
        .withColumn("_blk", F.substring_index(F.col("_k"), " ", 1))
    )
    w = Window.partitionBy("_blk").orderBy(
        F.col("_k").asc(), F.col("doc_id").asc()
    )
    led = base.select(
        F.col("doc_id").alias("x"),
        *[
            F.lead("doc_id", i).over(w).alias(f"_id{i}")
            for i in range(1, LINKPRED_WINDOW + 1)
        ],
    )
    e = (
        led.select(
            "x",
            F.explode(
                F.array(*[f"_id{i}" for i in range(1, LINKPRED_WINDOW + 1)])
            ).alias("y"),
        )
        .where(F.col("y").isNotNull())
        .select(
            F.least("x", "y").alias("id_a"), F.greatest("x", "y").alias("id_b")
        )
        .distinct()
        .transform(stage)
    )
    und = e.select(F.col("id_a").alias("s"), F.col("id_b").alias("d")).unionAll(
        e.select(F.col("id_b").alias("s"), F.col("id_a").alias("d"))
    )
    deg = und.groupBy(F.col("s").alias("w")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    wed = (
        und.select(F.col("d").alias("w"), F.col("s").alias("a"))
        .join(und.select(F.col("s").alias("w"), F.col("d").alias("b")), "w")
        .where(F.col("a") < F.col("b"))
    )
    cand = wed.join(
        e.select(F.col("id_a").alias("a"), F.col("id_b").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    term = round6(F.lit(1.0) / F.log(F.col("deg").cast("double")))
    # deg is node-sized (every blocked doc) — corpus-scale, so no
    # broadcast hint; AQE picks broadcast only when it actually fits.
    return (
        cand.join(deg, "w")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common_neighbors"),
            F.round(stable_sum(term), 6).alias("adamic_adar"),
        )
        .select(
            F.col("a").alias("id_a"),
            F.col("b").alias("id_b"),
            "common_neighbors",
            "adamic_adar",
        )
    )


def _sql_neardup_link_prediction() -> str:
    term = SQL_ROUND6.format(x="1.0 / ln(CAST(deg AS DOUBLE))")
    return f"""
WITH base AS (
  SELECT doc_id, {_norm('text')} AS k,
         string_split({_norm('text')}, ' ')[1] AS blk
  FROM documents
),
rn AS (
  SELECT doc_id, blk,
         ROW_NUMBER() OVER (PARTITION BY blk ORDER BY k ASC, doc_id ASC) AS r
  FROM base
),
pairs0 AS (
  SELECT a.doc_id AS x, b.doc_id AS y
  FROM rn a JOIN rn b
    ON b.blk = a.blk AND b.r BETWEEN a.r + 1 AND a.r + {LINKPRED_WINDOW}
),
pairs AS MATERIALIZED (
  SELECT DISTINCT LEAST(x, y) AS id_a, GREATEST(x, y) AS id_b FROM pairs0
),
und AS (SELECT id_a AS s, id_b AS d FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
deg AS (SELECT s AS w, CAST(COUNT(*) AS BIGINT) AS deg FROM und GROUP BY 1),
cand AS (
  SELECT u1.d AS w, u1.s AS a, u2.d AS b
  FROM und u1 JOIN und u2 ON u2.s = u1.d AND u1.s < u2.d
  WHERE NOT EXISTS (
    SELECT 1 FROM pairs p WHERE p.id_a = u1.s AND p.id_b = u2.d
  )
)
SELECT a AS id_a, b AS id_b,
       CAST(COUNT(*) AS BIGINT) AS common_neighbors,
       round({_ssum(term)}, 6) AS adamic_adar
FROM cand JOIN deg USING (w)
GROUP BY 1, 2
"""


#: Minimum co-occurring users for an association rule — the standard
#: absolute-support floor that keeps the rule table statistically
#: meaningful (and bounded).
ASSOC_MIN_USERS = 5


def q_event_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over user behavior — for each
    ordered event-type pair (antecedent → consequent): support,
    confidence and lift. The classic Apriori output at its useful
    2-itemset depth, re-based on users-as-baskets.

    Scale: the basket index is ONE distinct (user, type) hash
    aggregate; the pair expansion self-joins that index ON user_id —
    per-user |types|² with |types| bounded, never corpus²; marginals
    and the 1-row user count ride broadcasts; both rule directions come
    from re-selecting the same aggregated pair table (no second
    shuffle). Ratios are plain double divisions round6'd — identical
    in both engines."""
    from .operators.staging import stage

    base = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .transform(stage)
    )
    n_users = base.select("user_id").distinct().agg(
        F.count(F.lit(1)).alias("n_users")
    )
    tcnt = base.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    a, b = base.alias("a"), base.alias("b")
    pairs = (
        a.join(b, "user_id")
        .where(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("t_a"),
            F.col("b.event_type").alias("t_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= ASSOC_MIN_USERS)
        .join(
            F.broadcast(
                tcnt.select(F.col("event_type").alias("t_a"), F.col("n_t").alias("n_a"))
            ),
            "t_a",
        )
        .join(
            F.broadcast(
                tcnt.select(F.col("event_type").alias("t_b"), F.col("n_t").alias("n_b"))
            ),
            "t_b",
        )
        .crossJoin(F.broadcast(n_users))
    )

    def _dir(ante, cons, n_ante):
        return pairs.select(
            F.col(ante).alias("antecedent"),
            F.col(cons).alias("consequent"),
            F.col("n_ab").cast("long").alias("n_both"),
            round6(F.col("n_ab") / F.col("n_users").cast("double")).alias(
                "support"
            ),
            round6(F.col("n_ab") / F.col(n_ante).cast("double")).alias(
                "confidence"
            ),
            round6(
                (F.col("n_ab").cast("double") * F.col("n_users"))
                / (F.col("n_a").cast("double") * F.col("n_b"))
            ).alias("lift"),
        )

    return _dir("t_a", "t_b", "n_a").unionAll(_dir("t_b", "t_a", "n_b"))


#: EWMA smoothing factor — 0.25 so both α and 1−α are exactly
#: representable binary fractions (the fold is then bit-identical in
#: both engines with no rounding quarantine needed until the end).
EWMA_ALPHA = 0.25


def q_event_type_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of hourly event volume per
    type — the classic smoothed-rate monitor behind alerting baselines
    (the batch twin of what a streaming anomaly detector keeps as
    state). EWMA is inherently sequential (``y_t = α·x_t + (1−α)·
    y_{t−1}``), so both engines fold the per-type series in hour order
    with α = 0.25 (α and 1−α exact binary fractions → bit-identical
    doubles; final value round6'd only as belt-and-braces).

    Scale: the fact collapses to a (type × hour) histogram with ONE
    map-side-combined hash aggregate; the sequential fold runs on that
    BOUNDED series (calendar hours, not events) via sort_array +
    aggregate — per-group state is one double, and no raw event is ever
    collected."""
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    a = 1.0 - EWMA_ALPHA
    vals = (
        "transform(sort_array(collect_list(struct(hour, cnt))),"
        " s -> CAST(s.cnt AS DOUBLE))"
    )
    return hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.max("hour").alias("last_hour"),
        round6(
            F.expr(
                f"aggregate(slice({vals}, 2, greatest(size({vals}) - 1, 0)),"
                f" element_at({vals}, 1),"
                f" (acc, x) -> {EWMA_ALPHA}D * x + {a}D * acc)"
            )
        ).alias("ewma"),
    )


SQL_EVENT_TYPE_EWMA = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       MAX(hour) AS last_hour,
       {SQL_ROUND6.format(
           x=f"list_reduce(list(CAST(cnt AS DOUBLE) ORDER BY hour),"
             f" (acc, x) -> {EWMA_ALPHA}*CAST(x AS DOUBLE) + {1.0 - EWMA_ALPHA}*acc)"
       )} AS ewma
FROM hourly GROUP BY 1
"""


#: Count-min sketch geometry + report size. Width is deliberately small
#: relative to the user cardinality so bucket collisions (the thing the
#: min-over-depth corrects for) actually occur at test scale.
CMS_DEPTH = 4
CMS_WIDTH = 256
CMS_TOPN = 20


def q_event_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters — per-user event frequencies
    estimated from a fixed d×w counter matrix, reported for the top
    users next to their exact counts (``cms_n ≥ exact_n`` always; the
    overcount column is the visible collision error). Deterministic
    because the d hash rows are the portable md5 hash with a row-index
    prefix, so both engines build the identical sketch.

    Scale: THE point of CMS — the shuffle out of the fact scan is
    bounded by d·w counters per map task (map-side combine), not by
    key cardinality; the finished 1024-cell sketch then rides a
    broadcast against the distinct-key probe. ONE events scan (r07 —
    the sketch build, the probe key set, and the exact comparison all
    derive from the STAGED per-key exact counts: the cell counter is
    Σ_k exact_n(k) over the keys hashing into it, identical to
    counting raw events; un-staged lineage scanned events three
    times)."""
    from .functions.sketch import cms_buckets
    from .operators.staging import stage

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("k")
    )

    def _buckets(col):
        return cms_buckets(col, CMS_DEPTH, CMS_WIDTH)

    exact = (
        ev.groupBy("k")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .transform(stage)
    )
    counters = (
        exact.select("exact_n", F.explode(_buckets(F.col("k"))).alias("s"))
        .select("exact_n", "s.j", "s.b")
        .groupBy("j", "b")
        .agg(F.sum("exact_n").alias("c"))
    )
    probe = (
        exact.select("k", F.explode(_buckets(F.col("k"))).alias("s"))
        .select("k", "s.j", "s.b")
        .join(F.broadcast(counters), ["j", "b"])
        .groupBy("k")
        .agg(F.min("c").cast("long").alias("cms_n"))
    )
    res = (
        probe.join(exact, "k")
        .select(
            F.col("k").cast("long").alias("user_id"),
            F.col("exact_n").cast("long").alias("exact_n"),
            "cms_n",
            (F.col("cms_n") - F.col("exact_n")).cast("long").alias("overcount"),
        )
    )
    return top_k(res, [F.col("cms_n").desc(), F.col("user_id").asc()], CMS_TOPN)


def _sql_event_cms() -> str:
    def bucket(j: int) -> str:
        key = f"concat('{j}:', k)"
        return f"({_PORTABLE_HASH.format(s=key)} % {CMS_WIDTH})"

    expanded = " UNION ALL ".join(
        f"SELECT {j} AS j, {bucket(j)} AS b FROM ev" for j in range(CMS_DEPTH)
    )
    probe = " UNION ALL ".join(
        f"SELECT k, {j} AS j, {bucket(j)} AS b FROM keys"
        for j in range(CMS_DEPTH)
    )
    return f"""
WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
expanded AS ({expanded}),
counters AS (
  SELECT j, b, CAST(COUNT(*) AS BIGINT) AS c FROM expanded GROUP BY 1, 2
),
keys AS (SELECT DISTINCT k FROM ev),
probe AS ({probe}),
est AS (
  SELECT k, CAST(MIN(c) AS BIGINT) AS cms_n
  FROM probe JOIN counters USING (j, b) GROUP BY k
),
exact AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS exact_n FROM ev GROUP BY k)
SELECT CAST(k AS BIGINT) AS user_id, exact_n, cms_n,
       cms_n - exact_n AS overcount
FROM est JOIN exact USING (k)
ORDER BY cms_n DESC, user_id ASC
LIMIT {CMS_TOPN}
"""


_SQL_ASSOC_RULE_DIR = """
SELECT {ante} AS antecedent, {cons} AS consequent, n_ab AS n_both,
       {support} AS support, {confidence} AS confidence, {lift} AS lift
FROM enriched"""

SQL_EVENT_ASSOC_RULES = f"""
WITH base AS (SELECT DISTINCT user_id, event_type FROM events),
nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM base),
tcnt AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t
         FROM base GROUP BY 1),
pairs AS (
  SELECT a.event_type AS t_a, b.event_type AS t_b,
         CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM base a JOIN base b
    ON b.user_id = a.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
  HAVING COUNT(*) >= {ASSOC_MIN_USERS}
),
enriched AS (
  SELECT t_a, t_b, n_ab, fa.n_t AS n_a, fb.n_t AS n_b, n_users
  FROM pairs
  JOIN tcnt fa ON fa.event_type = t_a
  JOIN tcnt fb ON fb.event_type = t_b
  CROSS JOIN nu
)
{_SQL_ASSOC_RULE_DIR.format(
    ante="t_a", cons="t_b",
    support=SQL_ROUND6.format(x="n_ab / CAST(n_users AS DOUBLE)"),
    confidence=SQL_ROUND6.format(x="n_ab / CAST(n_a AS DOUBLE)"),
    lift=SQL_ROUND6.format(
        x="(CAST(n_ab AS DOUBLE) * n_users) / (CAST(n_a AS DOUBLE) * n_b)"
    ),
)}
UNION ALL
{_SQL_ASSOC_RULE_DIR.format(
    ante="t_b", cons="t_a",
    support=SQL_ROUND6.format(x="n_ab / CAST(n_users AS DOUBLE)"),
    confidence=SQL_ROUND6.format(x="n_ab / CAST(n_b AS DOUBLE)"),
    lift=SQL_ROUND6.format(
        x="(CAST(n_ab AS DOUBLE) * n_users) / (CAST(n_a AS DOUBLE) * n_b)"
    ),
)}
"""


#: Constants for the six remaining TPC-H shapes (Q2/Q11/Q12/Q16/Q20/Q21),
#: adapted to the testdata star schema: there is NO partsupp table, so
#: supply facts (cost, quantity, the part↔supplier relation) derive from
#: lineitem aggregates, and lineitem carries only l_shipdate, so
#: lateness derives from (l_shipdate - o_orderdate). Values chosen to be
#: non-empty across sf0.001..0.1 (probed).
MINCOST_REGION = "EUROPE"
MINCOST_PTYPE = "PROMO"
MINCOST_TOPN = 100
IMPORTANT_REGION = "EUROPE"
#: A part is "important" when its value exceeds this multiple of the
#: AVERAGE per-part value. TPC-H Q11's absolute fraction (0.0001/SF)
#: must shrink with scale or the result empties out — the
#: above-average multiple is the scale-stable equivalent (same fix as
#: DOMINANT_FAIR_MULTIPLE; probed non-empty at sf0.001/0.01/0.1).
IMPORTANT_AVG_MULTIPLE = 1.5
LATE_SHIP_YEAR = 1997
VARIETY_EXCL_BRAND = "Brand#13"
VARIETY_EXCL_TYPE = "PROMO"
VARIETY_SIZES = (1, 3, 5, 7)
VARIETY_MIN_ACCTBAL = 1000.0
DOMINANT_PART_MARKER = "rod"
#: A supplier "dominates" a part when its shipped-quantity share exceeds
#: this multiple of the fair share (1 / n suppliers of the part). An
#: absolute share threshold (TPC-H Q20's 50%) empties out as SF grows —
#: more lineitems per part flatten the shares — while the fair-share
#: multiple stays scale-stable (probed non-empty at sf0.001/0.01/0.1).
DOMINANT_FAIR_MULTIPLE = 1.5
DOMINANT_REGION = "EUROPE"
WAITING_LATE_DAYS = 80
WAITING_TOPN = 100


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q2-shaped minimum-cost supplier (adapted: supply cost =
    min unit price ``l_extendedprice / l_quantity`` per (part, supplier)
    from lineitem — no partsupp in the testdata). For every part of one
    type, among one region's suppliers, keep the supplier row(s) hitting
    the part's minimum cost — the correlated-scalar-min + join-back
    shape — top 100 by account balance.

    Scale: the (part, supplier) cost table is ONE hash aggregate over
    lineitem (map-side partials); the per-part min runs over that
    aggregated table, never fact rows; nation/region and the filtered
    part dim broadcast; final cut is a TakeOrdered, not a sort."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").where(
        F.col("r_name") == MINCOST_REGION
    )
    partf = load_table(spark, sf_dir, "part").where(
        F.col("p_type") == MINCOST_PTYPE
    ).select("p_partkey", "p_brand")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("_cost")
    )
    rs = (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    j = (
        cost.join(rs, cost.l_suppkey == rs.s_suppkey)
        .join(F.broadcast(partf), cost.l_partkey == partf.p_partkey)
    )
    # Correlated per-part min as a WINDOW over the joined aggregate
    # (r07 — the aggregate-joined-back form re-derived the whole
    # cost/supplier join subtree and scanned every table twice).
    from pyspark.sql import Window

    minc = F.min("_cost").over(Window.partitionBy("p_partkey"))
    out = (
        j.withColumn("_minc", minc)
        .where(F.col("_cost") == F.col("_minc"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            round6(F.col("_cost")).alias("unit_cost"),
        )
    )
    return top_k(
        out,
        [
            F.col("s_acctbal").desc(),
            F.col("n_name").asc(),
            F.col("s_name").asc(),
            F.col("p_partkey").asc(),
        ],
        MINCOST_TOPN,
    )


SQL_MIN_COST_SUPPLIER = f"""
WITH cost AS (
  SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS _cost
  FROM lineitem GROUP BY 1, 2
),
rs AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = '{MINCOST_REGION}'
),
j AS (
  SELECT p_partkey, p_brand, s_name, s_acctbal, n_name, _cost
  FROM cost
  JOIN rs ON l_suppkey = s_suppkey
  JOIN part ON l_partkey = p_partkey
  WHERE p_type = '{MINCOST_PTYPE}'
),
m AS (SELECT p_partkey, MIN(_cost) AS _minc FROM j GROUP BY 1),
ranked AS (
  SELECT j.s_acctbal, j.s_name, j.n_name, j.p_partkey, j.p_brand,
         {SQL_ROUND6.format(x='_cost')} AS unit_cost,
         row_number() OVER (
           ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, j.p_partkey ASC
         ) AS rn
  FROM j JOIN m ON j.p_partkey = m.p_partkey AND j._cost = m._minc
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, unit_cost
FROM ranked WHERE rn <= {MINCOST_TOPN}
"""


def q_important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q11-shaped important stock (adapted: part "value" = summed
    extended price of one region's suppliers' lineitems — no partsupp):
    keep parts whose value exceeds {IMPORTANT_AVG_MULTIPLE}× the
    average per-part value (Q11's absolute fraction empties out at
    scale; see IMPORTANT_AVG_MULTIPLE).

    Scale: one hash aggregate per part; the corpus total AND part count
    ride a 1-ROW broadcast (crossJoin of an aggregate — never a second
    scan, never a driver collect); the gate is a map-only filter. The
    part-dim value table is STAGED (r07): it feeds the total AND the
    gate, and un-staged Catalyst re-ran the region join + aggregate —
    two full fact scans for one scalar pair."""
    from .operators.staging import stage
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").where(
        F.col("r_name") == IMPORTANT_REGION
    )
    rs = (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey")
    )
    vals = (
        li.join(rs, li.l_suppkey == rs.s_suppkey)
        .groupBy("l_partkey")
        # exact 2-dp grid sum kept as decimal for the downstream exact
        # re-aggregation into _total (r12, functions.gridsum)
        .agg(grid_sum_dec(F.col("l_extendedprice"), 2).alias("_val"))
        .transform(stage)
    )
    total = vals.agg(
        F.sum("_val").alias("_total"), F.count(F.lit(1)).alias("_nparts")
    )
    return (
        vals.crossJoin(F.broadcast(total))
        .where(
            F.col("_val").cast("double") * F.col("_nparts").cast("double")
            > F.lit(IMPORTANT_AVG_MULTIPLE) * F.col("_total").cast("double")
        )
        .select(
            "l_partkey",
            F.col("_val").cast("double").alias("value"),
            round6(
                F.col("_val").cast("double") / F.col("_total").cast("double")
            ).alias("share"),
        )
    )


SQL_IMPORTANT_PART_VALUE = f"""
WITH rs AS (
  SELECT s_suppkey FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = '{IMPORTANT_REGION}'
),
vals AS (
  SELECT l_partkey, {_ssum('l_extendedprice')} AS value
  FROM lineitem JOIN rs ON l_suppkey = s_suppkey
  GROUP BY 1
),
tot AS (
  SELECT {_ssum('l_extendedprice')} AS total,
         CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS nparts
  FROM lineitem JOIN rs ON l_suppkey = s_suppkey
)
SELECT l_partkey, value,
       {SQL_ROUND6.format(x='value / total')} AS share
FROM vals CROSS JOIN tot
WHERE value * CAST(nparts AS DOUBLE) > {IMPORTANT_AVG_MULTIPLE} * total
"""


def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q12-shaped priority-by-shipping-speed (adapted: no
    l_shipmode/receiptdate in the testdata, so lines bucket by the
    order→ship delay instead): for one ship year, count urgent/high
    vs lower-priority lineitems per delay bucket — the CASE-inside-sum
    single-pass shape.

    Scale: year filter pushes to the lineitem scan; ONE hash aggregate
    over 3 bucket groups; orders joins on the shuffled key pair only."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.year("l_shipdate") == LATE_SHIP_YEAR
    )
    orders = load_table(spark, sf_dir, "orders")
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (
        F.when(delay >= 120, F.lit("slow"))
        .when(delay >= 30, F.lit("medium"))
        .otherwise(F.lit("fast"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(bucket.alias("ship_bucket"))
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


SQL_LATE_SHIPMENT_PRIORITY = f"""
SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) >= 120 THEN 'slow'
            WHEN date_diff('day', o_orderdate, l_shipdate) >= 30 THEN 'medium'
            ELSE 'fast' END AS ship_bucket,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE year(l_shipdate) = {LATE_SHIP_YEAR}
GROUP BY 1
"""


def q_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16-shaped supplier variety (adapted: the part↔supplier
    relation = DISTINCT (l_partkey, l_suppkey) from lineitem — no
    partsupp; the "complaint" supplier exclusion = account balance
    below a threshold — no s_comment): distinct supplier count per
    (brand, type, size) over an IN-list of sizes, excluding one brand,
    one type, and blocklisted suppliers via LEFT ANTI join.

    Scale: the pair-distinct is one shuffle on the composite key; the
    filtered part dim broadcasts; the supplier blocklist is an anti
    broadcast join; the final count-distinct groups a bounded
    (brand, type, size) codomain."""
    li = load_table(spark, sf_dir, "lineitem")
    partf = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != VARIETY_EXCL_BRAND)
        & (F.col("p_type") != VARIETY_EXCL_TYPE)
        & F.col("p_size").isin(*VARIETY_SIZES)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = load_table(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < VARIETY_MIN_ACCTBAL
    ).select("s_suppkey")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    j = (
        pairs.join(F.broadcast(partf), pairs.l_partkey == partf.p_partkey)
        .join(
            F.broadcast(bad),
            pairs.l_suppkey == bad.s_suppkey,
            "left_anti",
        )
    )
    return j.groupBy("p_brand", "p_type", "p_size").agg(
        F.countDistinct("l_suppkey").alias("supplier_cnt")
    )


SQL_SUPPLIER_PART_VARIETY = f"""
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> '{VARIETY_EXCL_BRAND}'
  AND p_type <> '{VARIETY_EXCL_TYPE}'
  AND p_size IN ({', '.join(str(s) for s in VARIETY_SIZES)})
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < {VARIETY_MIN_ACCTBAL}
  )
GROUP BY p_brand, p_type, p_size
"""


def q_dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q20-shaped promotion candidates (adapted: "availability"
    = shipped quantity per (supplier, part) from lineitem — no
    partsupp): suppliers in one region whose shipped share of any
    marker-part exceeds {DOMINANT_FAIR_MULTIPLE}× the fair share — the
    nested semi-join + correlated threshold-sum shape (Q20's absolute
    50% empties out at scale; see DOMINANT_FAIR_MULTIPLE).

    Scale: ONE pass over the part-filtered fact slice (the selective
    marker filter broadcasts into the scan side) — the per-part totals
    come from a WINDOW over the already-aggregated (part, supplier)
    table, not a self-join, so the fact table is scanned exactly once
    (the join formulation recomputed the aggregate subtree and scanned
    lineitem twice — r07 plan fix, pinned in tests/test_plans.py);
    suppliers then join the small dominant set."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").where(
        F.col("r_name") == DOMINANT_REGION
    )
    partf = load_table(spark, sf_dir, "part").where(
        F.col("p_name").contains(DOMINANT_PART_MARKER)
    ).select("p_partkey")
    sq = (
        li.join(F.broadcast(partf), li.l_partkey == partf.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        # quantity is integral: exact grid sum as decimal so the window
        # re-aggregation into _qt stays exact (r12, functions.gridsum)
        .agg(grid_sum_dec(F.col("l_quantity"), 0).alias("_q"))
    )
    w = Window.partitionBy("l_partkey")
    dom = (
        sq.withColumn("_qt", F.sum("_q").over(w))
        .withColumn("_ns", F.count(F.lit(1)).over(w))
        .where(
            F.col("_q").cast("double") * F.col("_ns").cast("double")
            > F.lit(DOMINANT_FAIR_MULTIPLE) * F.col("_qt").cast("double")
        )
    )
    per_supp = dom.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_dominated_parts")
    )
    return (
        supp.join(per_supp, supp.s_suppkey == per_supp.l_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", "s_name", "n_name", "n_dominated_parts")
    )


SQL_DOMINANT_PART_SUPPLIERS = f"""
WITH sq AS (
  SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS {STABLE_DECIMAL})) AS _q
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE contains(p_name, '{DOMINANT_PART_MARKER}')
  GROUP BY 1, 2
),
tot AS (
  SELECT l_partkey, SUM(_q) AS _qt, CAST(COUNT(*) AS BIGINT) AS _ns
  FROM sq GROUP BY 1
),
dom AS (
  SELECT sq.l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_dominated_parts
  FROM sq JOIN tot ON sq.l_partkey = tot.l_partkey
  WHERE CAST(CAST(sq._q AS VARCHAR) AS DOUBLE) * CAST(tot._ns AS DOUBLE)
        > {DOMINANT_FAIR_MULTIPLE} * CAST(CAST(tot._qt AS VARCHAR) AS DOUBLE)
  GROUP BY 1
)
SELECT s_suppkey, s_name, n_name, n_dominated_parts
FROM supplier
JOIN dom ON s_suppkey = dom.l_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = '{DOMINANT_REGION}'
"""


def q_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q21-shaped "suppliers who kept orders waiting" (adapted:
    lateness = ship delay beyond {WAITING_LATE_DAYS} days past the order
    date — no receipt/commit dates): on finalized multi-supplier orders
    where EXACTLY ONE supplier was late, count per supplier how many
    orders it alone held up.

    Scale: the textbook double EXISTS/NOT-EXISTS self-join collapses
    into ONE aggregate per order (distinct suppliers, distinct late
    suppliers) — a single orderkey shuffle — plus one join of the late
    lines back to the qualifying orders and a supplier-key count.
    Top-N is a TakeOrdered."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    )
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    late = F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > WAITING_LATE_DAYS
    per_order = j.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("_ns"),
        F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("_nl"),
    )
    waiting = per_order.where((F.col("_ns") > 1) & (F.col("_nl") == 1)).select(
        "l_orderkey"
    )
    culprits = (
        j.where(late)
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .join(waiting, "l_orderkey")
    )
    numwait = culprits.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("numwait")
    )
    out = (
        supp.join(numwait, supp.s_suppkey == numwait.l_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .select("s_name", "n_name", "numwait")
    )
    return top_k(
        out, [F.col("numwait").desc(), F.col("s_name").asc()], WAITING_TOPN
    )


SQL_SUPPLIERS_KEPT_WAITING = f"""
WITH j AS (
  SELECT l_orderkey, l_suppkey,
         date_diff('day', o_orderdate, l_shipdate) > {WAITING_LATE_DAYS} AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
),
per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS ns,
         COUNT(DISTINCT CASE WHEN late THEN l_suppkey END) AS nl
  FROM j GROUP BY 1
),
waiting AS (SELECT l_orderkey FROM per_order WHERE ns > 1 AND nl = 1),
culprits AS (
  SELECT DISTINCT j.l_orderkey, j.l_suppkey
  FROM j JOIN waiting ON j.l_orderkey = waiting.l_orderkey
  WHERE late
),
numwait AS (
  SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS numwait
  FROM culprits GROUP BY 1
),
ranked AS (
  SELECT s_name, n_name, numwait,
         row_number() OVER (ORDER BY numwait DESC, s_name ASC) AS rn
  FROM supplier
  JOIN numwait ON s_suppkey = l_suppkey
  JOIN nation ON s_nationkey = n_nationkey
)
SELECT s_name, n_name, numwait FROM ranked WHERE rn <= {WAITING_TOPN}
"""


def q_doc_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram (Shannon) entropy + type-token ratio — the
    information-density quality signal (low entropy = repetitive/
    degenerate text, a core LLM-corpus filter next to the repetition
    and Gopher gates).

    Scale: ONE documents scan (tokenize + explode run once): the
    per-doc token/type totals come from a WINDOW over the (doc, term)
    aggregate rather than a join back onto itself — the join
    formulation recomputed the tokenize subtree and scanned documents
    twice (r07 plan fix, pinned in tests/test_plans.py). The window
    shuffle by doc_id also pre-partitions the final per-doc aggregate,
    so that aggregate needs no exchange of its own. Per-term entropy
    contributions are round6'd (ln quarantine) then decimal-summed, so
    the result is engine- and order-independent — the BM25/logprob
    discipline."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id")
    tf = (
        _term_counts(_docs_with_tokens(spark, sf_dir), "doc_id")
        .withColumn("_n", F.sum("tf").over(w))
        .withColumn("_d", F.count(F.lit(1)).over(w))
    )
    p = F.col("tf").cast("double") / F.col("_n").cast("double")
    term_h = round6(-(p * F.log(p)))
    return (
        tf.groupBy("doc_id")
        .agg(
            F.max("_n").cast("long").alias("n_tokens"),
            F.max("_d").cast("long").alias("n_distinct"),
            F.round(stable_sum(term_h), 6).alias("entropy"),
            round6(
                F.max("_d").cast("double") / F.max("_n").cast("double")
            ).alias("ttr"),
        )
    )


def _sql_doc_token_entropy() -> str:
    p = "(CAST(tf.tf AS DOUBLE) / _n)"
    term_h = SQL_ROUND6.format(x=f"-({p} * ln({p}))")
    return f"""
WITH {_sql_term_counts('doc_id')},
per_doc AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS _n,
         CAST(COUNT(*) AS BIGINT) AS _d
  FROM tf GROUP BY 1
)
SELECT tf.doc_id,
       MAX(_n) AS n_tokens,
       MAX(_d) AS n_distinct,
       round({_ssum(term_h)}, 6) AS entropy,
       {SQL_ROUND6.format(x='CAST(MAX(_d) AS DOUBLE) / MAX(_n)')} AS ttr
FROM tf JOIN per_doc ON tf.doc_id = per_doc.doc_id
GROUP BY tf.doc_id
"""


def q_doc_containment_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed n-gram containment pairs (operators.dedup
    .containment_pairs): |A∩B|/|A| — the asymmetric near-dup measure
    that catches a short doc copied INSIDE a long one, which symmetric
    Jaccard dilutes away. Rare-shingle candidate generation (df-capped,
    skew-safe) + exact candidate-bounded intersection."""
    return DD.containment_pairs(_docs_with_tokens(spark, sf_dir))


SQL_DOC_CONTAINMENT = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
grams AS (SELECT doc_id, unnest({_SHINGLES.format(t='t')}) AS g FROM toks),
dfreq AS (SELECT g, COUNT(*) AS df FROM grams GROUP BY g),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM grams a
  JOIN dfreq d ON d.g = a.g AND d.df <= {DD.NGRAM_MAX_DOC_FREQ}
  JOIN grams b ON b.g = a.g AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM cand c
  JOIN grams ga ON ga.doc_id = c.id_a
  JOIN grams gb ON gb.doc_id = c.id_b AND gb.g = ga.g
  GROUP BY 1, 2
),
scored AS (
  SELECT id_a, id_b, n_inter,
         {SQL_ROUND6.format(x='CAST(n_inter AS DOUBLE) / sa.n')} AS c_a_in_b,
         {SQL_ROUND6.format(x='CAST(n_inter AS DOUBLE) / sb.n')} AS c_b_in_a
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
)
SELECT * FROM scored
WHERE GREATEST(c_a_in_b, c_b_in_a) >= {DD.CONTAINMENT_THRESHOLD}
"""


#: Burst detection parameters: BURST_K events inside BURST_WINDOW_S.
BURST_K = 3
BURST_WINDOW_S = 14400


def q_event_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user burst detection: an event is "bursty" when it is the
    ``BURST_K``-th event of its user within ``BURST_WINDOW_S`` seconds
    (lag-window formulation — anomalous activity / rate-spike
    detection, the streaming-abuse signal computed in batch).

    Scale: one per-user window (lag K-1 over ts), then a per-user hash
    aggregate; no self-join, no per-user sort beyond the keyed window."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").asc(), F.col("event_id").asc()
    )
    span_start = F.lag("ts_us", BURST_K - 1).over(w)
    is_burst = (
        span_start.isNotNull()
        & (F.col("ts_us") - span_start <= F.lit(BURST_WINDOW_S * 1_000_000))
    )
    flagged = ev.select(
        "user_id", is_burst.cast("int").alias("_b")
    )
    return (
        flagged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("_b").cast("long").alias("n_burst_events"),
        )
        .where(F.col("n_burst_events") > 0)
    )


SQL_EVENT_BURSTS = f"""
WITH lagged AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts), {BURST_K - 1}) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC
         ) AS span
  FROM events
),
flagged AS (
  SELECT user_id,
         CASE WHEN span IS NOT NULL
                   AND span <= CAST({BURST_WINDOW_S} AS BIGINT) * 1000000
              THEN 1 ELSE 0 END AS b
  FROM lagged
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(b) AS BIGINT) AS n_burst_events
FROM flagged GROUP BY user_id
HAVING SUM(b) > 0
"""


#: Range search: all neighbors of the first RANGE_N_QUERIES vectors
#: within cosine >= SIM.RANGE_TAU.
RANGE_N_QUERIES = 3


def q_emb_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine RANGE search (operators.similarity.cosine_range_search):
    every corpus vector within a similarity radius of each query — the
    "everything at least this similar" retrieval complement of top-k
    (duplicate sweeps, recall-first retrieval). Broadcast queries ×
    corpus, corpus never shuffles, threshold filtered in-stage."""
    emb = _emb(spark, sf_dir)
    q = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < RANGE_N_QUERIES
    )
    return SIM.cosine_range_search(q, emb)


SQL_EMB_RANGE_SEARCH = f"""
WITH {_sql_cosine(f"vec_id < {RANGE_N_QUERIES}")}
SELECT qid AS query_id, nid AS neighbor_id,
       {SQL_ROUND6.format(x='sim')} AS cosine_sim
FROM cos WHERE {SQL_ROUND6.format(x='sim')} >= {SIM.RANGE_TAU}
"""


# --------------------------------------------------------------------------
# r08 additions: HLL sketch, eval-set contamination, matryoshka recall,
# DSIR importance weights
# --------------------------------------------------------------------------

#: contamination n-gram length — 13 tokens, the eval-decontamination
#: convention popularized by the GPT-3 appendix; long enough that an
#: overlap is near-certain leakage rather than idiom.
CONTAM_NGRAM = 13

#: benchmark-split modulus: ~5% of docs play the held-out eval set.
CONTAM_MOD = 20


def q_user_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct users per event type (operators/hll.py) —
    the third sketch family after KMV (user_distinct_sketch) and
    count-min (event_cms_heavy_hitters), chosen for its merge contract:
    register state unions by ELEMENTWISE MAX, so shards, streams, and
    backfills combine without re-reading anything.

    Scale shape: one hash-aggregate to ≤ |event_types|·64 register rows
    (map-side combined), one fold to the estimate. ``n_exact`` is an
    AUDIT column for the oracle/tests — a real 100 TB run drops it (the
    exact countDistinct is the expensive thing the sketch replaces)."""
    from .operators.hll import hll_estimate, hll_registers

    events = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("user_id").cast("string").alias("_u")
    )
    regs = hll_registers(events)
    est = hll_estimate(regs)
    exact = events.groupBy("event_type").agg(
        F.countDistinct("_u").alias("n_exact")
    )
    return exact.join(est, "event_type").select(
        "event_type",
        "n_exact",
        "zero_registers",
        "register_sum",
        F.col("est_distinct").alias("est_users"),
    )


SQL_USER_HLL_SKETCH = f"""
WITH {_sql_hll_est()},
ex AS (
  SELECT event_type, CAST(COUNT(DISTINCT CAST(user_id AS VARCHAR)) AS BIGINT) AS n_exact
  FROM events GROUP BY 1
)
SELECT est.event_type, ex.n_exact, est.zero_registers, est.register_sum,
       est.est AS est_users
FROM est JOIN ex USING (event_type)
"""


def q_doc_ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set contamination audit: hold out ~5% of docs as the
    "benchmark" split (portable hash of doc_id — leakage-safe, the
    doc_splits discipline) and report, per remaining train doc, the
    fraction of its distinct 13-gram shingles that appear anywhere in
    the benchmark split. The n-gram-overlap decontamination check every
    serious pretraining pipeline runs before training.

    Scale shape: shingles + split flag staged once; the benchmark
    shingle set is corpus-scaling, so the membership join carries NO
    broadcast hint (r07 audit rule — AQE decides at runtime); one
    equi-join on shingle (hot shingles are AQE-skew territory), one
    per-doc aggregate. Docs shorter than 13 tokens have no 13-grams and
    drop out, in both engines."""
    from .operators.staging import stage

    d = _docs_with_tokens(spark, sf_dir)
    # the split flag is a pure function of doc_id, so it attaches to the
    # shingle index directly — one documents scan, no flag join
    bench_flag = (
        TX.portable_hash(
            F.concat(F.col("doc_id").cast("string"), F.lit(":cb"))
        )
        % CONTAM_MOD
        == 0
    )
    g = (
        DD.shingle_index(d, CONTAM_NGRAM)
        .withColumn("_bench", bench_flag)
        .transform(stage)
    )
    bench = (
        g.where(F.col("_bench"))
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    hits = g.where(~F.col("_bench")).join(bench, "shingle", "left")
    n_cont = F.sum(
        F.when(F.col("_hit").isNotNull(), 1).otherwise(0)
    ).cast("long")
    return (
        hits.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            n_cont.alias("n_contaminated"),
        )
        .select(
            "doc_id",
            "n_ngrams",
            "n_contaminated",
            round6(F.col("n_contaminated") / F.col("n_ngrams")).alias(
                "contam_frac"
            ),
        )
    )


def _sql_doc_ngram_contamination() -> str:
    n = CONTAM_NGRAM
    grams = (
        f"CASE WHEN len(t) >= {n} THEN list_distinct(list_transform("
        f"range(1, len(t) - {n - 2}), i -> array_to_string("
        f"list_slice(t, i, i + {n - 1}), ' '))) ELSE []::VARCHAR[] END"
    )
    split = _PORTABLE_HASH.format(s="CAST(doc_id AS VARCHAR) || ':cb'")
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t,
         ({split} % {CONTAM_MOD} = 0) AS _bench
  FROM documents
),
grams AS (SELECT doc_id, _bench, unnest({grams}) AS g FROM toks),
bench AS (SELECT DISTINCT g FROM grams WHERE _bench),
tr AS (
  SELECT grams.doc_id, grams.g, (bench.g IS NOT NULL) AS _hit
  FROM grams LEFT JOIN bench USING (g)
  WHERE NOT _bench
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams,
       CAST(SUM(CASE WHEN _hit THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       {SQL_ROUND6.format(x='SUM(CASE WHEN _hit THEN 1 ELSE 0 END) * 1.0 / COUNT(*)')} AS contam_frac
FROM tr GROUP BY doc_id
"""


#: matryoshka truncation: score with the first 32 of 64 dims — the MRL
#: deployment trade (half the index bytes) whose quality this audits.
MRL_DIM = 32


def q_emb_mrl_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation recall audit: for each probe vector, the
    exact cosine top-10 under FULL 64-dim scoring vs under the first
    32 dims only, reported as recall@10 of the truncated index against
    the full one. This is the measurement that decides whether an
    MRL-style half-width ANN index is safe to deploy.

    Scale shape: two brute-force top-k passes over the same corpus
    (each a broadcast of the k-row probe set — the sanctioned probe-
    matrix pattern; the corpus never shuffles), one k-bounded join to
    intersect the lists, one left join back to the probe ids so a
    zero-overlap probe still reports 0."""
    emb = _emb(spark, sf_dir)
    probes = F.col("vec_id") % 50 == 0
    full = SIM.cosine_topk(emb.where(probes), emb).select(
        "query_id", "neighbor_id"
    )
    emb32 = emb.select(
        "vec_id", F.slice(F.col("embedding"), 1, MRL_DIM).alias("embedding")
    )
    trunc = SIM.cosine_topk(emb32.where(probes), emb32).select(
        "query_id", "neighbor_id"
    )
    counts = full.join(trunc, ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).alias("_n"))
    base = emb.where(probes).select(F.col("vec_id").alias("query_id"))
    n_overlap = F.coalesce(F.col("_n"), F.lit(0)).cast("long")
    return base.join(counts, "query_id", "left").select(
        "query_id",
        n_overlap.alias("n_overlap"),
        round6(n_overlap / F.lit(float(SIM.TOPK))).alias("recall_at_10"),
    )


def _sql_emb_mrl_recall() -> str:
    def topk(vec: str, name: str) -> str:
        return f"""{_sql_cosine("vec_id % 50 = 0", vec, f"{name}_")},
sel_{name} AS (
  SELECT qid, nid FROM (
    SELECT qid, nid,
           row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rn
    FROM {name}_cos
  ) WHERE rn <= {SIM.TOPK}
)"""

    return f"""
WITH {topk('embedding', 'full')},
{topk(f'list_slice(embedding, 1, {MRL_DIM})', 'tr')},
ov AS (
  SELECT f.qid, CAST(COUNT(*) AS BIGINT) AS n
  FROM sel_full f JOIN sel_tr t ON t.qid = f.qid AND t.nid = f.nid
  GROUP BY f.qid
),
base AS (SELECT DISTINCT vec_id AS qid FROM embeddings WHERE vec_id % 50 = 0)
SELECT qid AS query_id, CAST(COALESCE(n, 0) AS BIGINT) AS n_overlap,
       {SQL_ROUND6.format(x=f'COALESCE(n, 0) / {float(SIM.TOPK)}')} AS recall_at_10
FROM base LEFT JOIN ov USING (qid)
"""


def q_doc_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data-selection weights (Xie et al. 2023): per-doc mean
    log importance ratio ln(p_target / p_source) under add-one-smoothed
    unigram LMs, with the English subcorpus as the target domain and
    the full corpus as the source. High-weight docs are the ones
    importance resampling keeps when fitting a mixed crawl toward a
    target distribution — the statistical sibling of doc_mixture_weights
    (which reweights whole sources, not documents).

    Shape: shares doc_unigram_logprob's staged-tf skeleton — token
    explode → per-(doc,term) tf (STAGED: feeds both count tables and
    the scoring join) → two bounded vocab count tables → one equi-join
    on term + a 1-row broadcast of corpus totals → per-doc aggregate
    with decimal-stable summation."""
    from .operators.staging import stage

    d = _docs_with_tokens(spark, sf_dir)
    tf = _term_counts(d, "doc_id", "lang").transform(stage)
    c_s = tf.groupBy("term").agg(F.sum("tf").alias("c_s"))
    c_t = (
        tf.where(F.col("lang") == "en")
        .groupBy("term")
        .agg(F.sum("tf").alias("c_t"))
    )
    totals = c_s.agg(
        F.sum("c_s").alias("_n_s"), F.count(F.lit(1)).alias("_v")
    ).crossJoin(
        # coalesce mirrors the oracle's COALESCE(SUM, 0): an empty
        # target subcorpus degrades to a pure source-LM penalty, not
        # NULL weights
        tf.where(F.col("lang") == "en").agg(
            F.coalesce(F.sum("tf"), F.lit(0)).alias("_n_t")
        )
    )
    j = (
        tf.join(c_s, "term")
        .join(c_t, "term", "left")
        .crossJoin(F.broadcast(totals))
        .withColumn("c_t", F.coalesce(F.col("c_t"), F.lit(0)))
    )
    logp = F.log(
        (F.col("c_t") + F.lit(1.0)) / (F.col("_n_t") + F.col("_v"))
    ) - F.log((F.col("c_s") + F.lit(1.0)) / (F.col("_n_s") + F.col("_v")))
    return _mean_logprob(j, logp, "n_tokens", "dsir_weight")


def _sql_doc_dsir_weights() -> str:
    logp = "(ln((c_t + 1.0) / (n_t + v)) - ln((c_s + 1.0) / (n_s + v)))"
    return f"""
WITH {_sql_term_counts('doc_id', 'lang')},
cs AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS c_s FROM tf GROUP BY term),
ct AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS c_t FROM tf WHERE lang = 'en' GROUP BY term),
tot AS (
  SELECT CAST(SUM(c_s) AS BIGINT) AS n_s, CAST(COUNT(*) AS BIGINT) AS v FROM cs
),
tt AS (SELECT CAST(COALESCE(SUM(tf), 0) AS BIGINT) AS n_t FROM tf WHERE lang = 'en'),
j AS (
  SELECT tf.doc_id, tf.tf, cs.c_s, COALESCE(ct.c_t, 0) AS c_t,
         tot.n_s, tot.v, tt.n_t
  FROM tf JOIN cs USING (term) LEFT JOIN ct USING (term)
  CROSS JOIN tot CROSS JOIN tt
)
{_sql_mean_logprob(logp, 'n_tokens', 'dsir_weight')}
"""


#: hard negatives mined per anchor vector.
HARDNEG_K = 5


def q_emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    vector, the top-5 most cosine-similar vectors with a DIFFERENT
    label — the near-miss pairs that make embedding-model training data
    actually hard (random negatives are trivially separable). The
    anchor set is the same bounded probe set as cosine_topk.

    ANCHOR-SET CONTRACT: this exact-scoring shape is the bounded-probe
    ORACLE variant — it is only valid when the anchor set is fixed-k
    (a constant number of rows that broadcasts at any corpus size),
    never corpus-proportional. The ``vec_id % 50 == 0`` predicate used
    here selects 2% OF THE CORPUS, which is fine at the differential
    gate's sf ≤ 0.1 but neither broadcasts nor scores in one pass at
    100 TB. The scale-safe serving shape is
    :func:`q_emb_hard_negatives_mined` (fixed-k anchors → binary
    Hamming shortlist → exact cosine rerank, the ann_hamming_rerank
    composition).

    Scale shape: identical to the exact-ANN baseline — broadcast the
    k-row anchor matrix, score corpus rows in one codegen'd pass (the
    label-mismatch predicate rides the join condition, so same-label
    rows never reach ranking), and take top-k per anchor with the
    shared rank convention (raw sim desc, id tiebreak; rounded on
    output)."""
    emb = _emb(spark, sf_dir)
    a, c = SIM.cosine_sides(
        emb.where(F.col("vec_id") % 50 == 0),
        emb,
        q_extra=(F.col("label").alias("query_label"),),
        c_extra=(F.col("label").alias("neighbor_label"),),
    )
    scored = c.join(
        F.broadcast(a), F.col("query_label") != F.col("neighbor_label")
    ).select(
        "query_id",
        F.col("query_label").cast("long").alias("query_label"),
        "neighbor_id",
        F.col("neighbor_label").cast("long").alias("neighbor_label"),
        SIM.cosine_sim().alias("_sim"),
    )
    return SIM.top_cosine(scored, HARDNEG_K)


SQL_EMB_HARD_NEGATIVES = f"""
WITH {_sql_cosine("vec_id % 50 = 0")},
ranked AS (
  SELECT qid, ql.label AS qlabel, nid, nl.label AS nlabel, sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rn
  FROM cos
  JOIN embeddings ql ON ql.vec_id = qid
  JOIN embeddings nl ON nl.vec_id = nid
  WHERE ql.label != nl.label
)
SELECT qid AS query_id, CAST(qlabel AS BIGINT) AS query_label,
       nid AS neighbor_id, CAST(nlabel AS BIGINT) AS neighbor_label,
       round(sim, 6) AS cosine_sim
FROM ranked WHERE rn <= {HARDNEG_K}
"""


#: fixed anchor count for the SERVING-path hard-negative miner — a
#: constant, NOT a corpus fraction, so the anchor matrix broadcasts at
#: any corpus size (the 100 TB contract q_emb_hard_negatives lacks).
HARDNEG_ANCHORS = 20

#: Hamming shortlist width per anchor before the exact rerank.
HARDNEG_SHORTLIST = 50


def q_emb_hard_negatives_mined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe hard-negative mining: the production SERVING shape of
    :func:`q_emb_hard_negatives`, wired through the same composition as
    ann_hamming_rerank — (1) a FIXED-k anchor set (HARDNEG_ANCHORS
    smallest probe ids: deterministic, constant-size, broadcastable at
    any corpus scale), (2) a binary sign-bit Hamming shortlist of
    HARDNEG_SHORTLIST candidates per anchor (8 B/row corpus scan,
    operators.similarity.hamming_topk's bounded-codomain slab ranking),
    (3) exact cosine rerank of only |anchors| × HARDNEG_SHORTLIST rows
    with the label-mismatch predicate, top-HARDNEG_K per anchor.

    Label mismatch filters AFTER the shortlist (signatures are
    label-blind), so negatives are mined from the Hamming neighborhood
    — the approximate-serving contract; the shortlist width bounds how
    many same-label rows can crowd out negatives. Every stage is
    deterministic (integer Hamming, sequential-fold cosine, id
    tiebreaks), so the whole composition runs under the full
    differential oracle, like ann_hamming_rerank and unlike the
    recall-pinned LSH/IVF/PQ paths."""
    from .functions.vector import cosine
    from .operators.topk import top_k_per_group

    emb = _emb(spark, sf_dir)
    # fixed-k anchors: TakeOrdered over the probe predicate — a bounded
    # driver-side limit, never a corpus-proportional set.
    anchors = (
        emb.where(F.col("vec_id") % 50 == 0)
        .orderBy(F.col("vec_id").asc())
        .limit(HARDNEG_ANCHORS)
    )
    short = SIM.hamming_topk(anchors, emb, k=HARDNEG_SHORTLIST)
    qv = anchors.select(
        F.col("vec_id").alias("query_id"),
        F.col("label").cast("long").alias("query_label"),
        F.col("embedding").alias("_qv"),
    )
    cv = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").cast("long").alias("neighbor_label"),
        F.col("embedding").alias("_cv"),
    )
    scored = (
        short.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .where(F.col("query_label") != F.col("neighbor_label"))
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            "hamming",
            round6(cosine(F.col("_qv"), F.col("_cv"))).alias("cosine_sim"),
        )
    )
    # the per-anchor window ranks ≤ HARDNEG_SHORTLIST rows — bounded
    ranked = top_k_per_group(
        scored,
        ["query_id"],
        [F.col("cosine_sim").desc(), F.col("neighbor_id").asc()],
        HARDNEG_K,
    )
    return ranked.select(
        "query_id",
        "query_label",
        "neighbor_id",
        "neighbor_label",
        "hamming",
        "cosine_sim",
    )


def _sql_emb_hard_negatives_mined() -> str:
    lo, hi = _sql_sign_word(0), _sql_sign_word(32)
    return f"""
WITH anchors AS (
  SELECT vec_id, label, embedding FROM embeddings
  WHERE vec_id % 50 = 0 ORDER BY vec_id ASC LIMIT {HARDNEG_ANCHORS}
),
sig AS (SELECT vec_id, {lo} AS lo, {hi} AS hi FROM embeddings),
asig AS (SELECT a.vec_id, s.lo, s.hi FROM anchors a JOIN sig s USING (vec_id)),
hpairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi)) AS BIGINT) AS hamming
  FROM asig q JOIN sig c ON c.vec_id <> q.vec_id
),
hranked AS (
  SELECT query_id, neighbor_id, hamming,
         row_number() OVER (
           PARTITION BY query_id ORDER BY hamming ASC, neighbor_id ASC
         ) AS rn
  FROM hpairs
),
shortlist AS (
  SELECT query_id, neighbor_id, hamming FROM hranked WHERE rn <= {HARDNEG_SHORTLIST}
),
qe AS (SELECT vec_id AS query_id, CAST(label AS BIGINT) AS query_label,
              embedding AS qv, {_SQL_SEQ_NORM.format(v='embedding')} AS qn
       FROM anchors),
ce AS (SELECT vec_id AS neighbor_id, CAST(label AS BIGINT) AS neighbor_label,
              embedding AS cv, {_SQL_SEQ_NORM.format(v='embedding')} AS cn
       FROM embeddings),
scored AS (
  SELECT s.query_id, query_label, s.neighbor_id, neighbor_label, s.hamming,
         {SQL_ROUND6.format(
             x=f"CASE WHEN qn * cn = 0 THEN 0.0"
               f" ELSE {_SQL_SEQ_DOT.format(p='qv', c='cv')} / (qn * cn) END")} AS cosine_sim
  FROM shortlist s JOIN qe USING (query_id) JOIN ce USING (neighbor_id)
  WHERE query_label <> neighbor_label
),
rranked AS (
  SELECT query_id, query_label, neighbor_id, neighbor_label, hamming, cosine_sim,
         row_number() OVER (
           PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC
         ) AS rn
  FROM scored
)
SELECT query_id, query_label, neighbor_id, neighbor_label, hamming, cosine_sim
FROM rranked WHERE rn <= {HARDNEG_K}
"""


#: z-score flag threshold for embedding outliers.
EMB_OUTLIER_Z = 2.0


def q_emb_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier detection for data cleaning: per-label centroid
    (decimal-stable per-dimension means), each vector's L2 distance to
    its label centroid, and the within-label z-score of that distance —
    vectors beyond z > 2 are mislabeled/corrupt candidates a curation
    pass reviews before training.

    Scale shape: one posexplode → per-(label, dim) decimal aggregate
    (the centroid table is labels × dims, broadcast-sized by
    construction), one equi-join back on (label, dim) with a per-vector
    decimal distance aggregate, then a per-label moment aggregate
    (count/mean/E[d²], also decimal) joined back — every float sum in
    the chain is order-independent, so both engines produce identical
    doubles before the final rounding."""
    emb = _emb(spark, sf_dir).select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.posexplode(F.col("embedding")).alias("i", "x"),
    ).withColumn("x", F.col("x").cast("double"))
    centroids = emb.groupBy("label", "i").agg(
        stable_avg("x").alias("c")
    )
    dists = (
        emb.join(centroids, ["label", "i"])
        .groupBy("vec_id", "label")
        .agg(
            F.sqrt(
                stable_sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c")))
            ).alias("_d")
        )
    )
    moments = dists.groupBy("label").agg(
        F.count(F.lit(1)).alias("_n"),
        stable_avg("_d").alias("_mu"),
        (stable_sum(F.col("_d") * F.col("_d")) / F.count(F.lit(1))).alias("_ex2"),
    )
    # Zero-variance labels (e.g. a singleton label) have std = 0; both
    # engines emit z = 0.0 / not-outlier instead of dividing by zero
    # (Spark 4 ANSI mode would abort the whole query otherwise).
    var = F.col("_ex2") - F.col("_mu") * F.col("_mu")
    z = F.when(var <= 0, F.lit(0.0)).otherwise(
        (F.col("_d") - F.col("_mu")) / F.sqrt(var)
    )
    return (
        dists.join(moments, "label")
        .select(
            "vec_id",
            "label",
            round6(F.col("_d")).alias("centroid_dist"),
            round6(z).alias("z_score"),
            (z > EMB_OUTLIER_Z).alias("is_outlier"),
        )
    )


def _sql_emb_outliers() -> str:
    return f"""
WITH e AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label,
         generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
cent AS (
  SELECT label, i, {_ssum('x')} / COUNT(x) AS c
  FROM e GROUP BY label, i
),
dists AS (
  SELECT vec_id, e.label,
         sqrt({_ssum('(x - c) * (x - c)')}) AS d
  FROM e JOIN cent ON cent.label = e.label AND cent.i = e.i
  GROUP BY vec_id, e.label
),
mom AS (
  SELECT label, COUNT(*) AS n, {_ssum('d')} / COUNT(*) AS mu,
         {_ssum('d * d')} / COUNT(*) AS ex2
  FROM dists GROUP BY label
)
SELECT vec_id, dists.label,
       {SQL_ROUND6.format(x='d')} AS centroid_dist,
       {SQL_ROUND6.format(
           x='CASE WHEN ex2 - mu * mu <= 0 THEN 0.0'
             ' ELSE (d - mu) / sqrt(ex2 - mu * mu) END')} AS z_score,
       (CASE WHEN ex2 - mu * mu <= 0 THEN 0.0
             ELSE (d - mu) / sqrt(ex2 - mu * mu) END
        > {EMB_OUTLIER_Z}) AS is_outlier
FROM dists JOIN mom USING (label)
"""


# --------------------------------------------------------------------------
# r09 late additions: hopping windows, cumulative uniques, blocked fuzzy ER
# --------------------------------------------------------------------------


def q_event_hopping_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping (hopping) event-time windows: 2 h windows sliding by
    1 h, per event_type — the sliding generalization of
    ``hourly_event_stats`` (reference ST1 family, SURVEY §2.8). Each
    event contributes to exactly 2 windows; the assignment is expanded
    map-side by Catalyst's TimeWindowing rule (no join), so the single
    group-by exchange is the whole shuffle story at any scale."""
    ev = load_table(spark, sf_dir, "events")
    return hopping_stats(ev)


SQL_HOPPING = f"""
SELECT epoch_us(date_trunc('hour', ts)) // 1000000 - 3600 * offs.o AS window_start_s,
  event_type,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  {_savg('value', 'COUNT(value)')} AS avg_value
FROM events CROSS JOIN (VALUES (0), (1)) AS offs(o)
GROUP BY 1, 2
"""


def q_user_cumulative_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day ("uniques so far") WITHOUT a
    per-day COUNT(DISTINCT) rescan: a user is new only on its
    first-seen day, so one (user → min day) aggregate + a per-day count
    + a running sum over the ≤|days| daily rows reproduces the
    cumulative distinct exactly. The unpartitioned running-sum window
    is safe at any corpus size: it runs on the day-level aggregate,
    whose cardinality is the calendar, not the corpus."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("user_id")
        .agg(F.min(F.date_trunc("day", F.col("ts"))).alias("first_day"))
        .groupBy("first_day")
        .agg(F.count(F.lit(1)).alias("new_users"))
    )
    w = Window.orderBy("first_day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.unix_timestamp("first_day").alias("day_s"),
        "new_users",
        F.sum("new_users").over(w).alias("cum_users"),
    )


SQL_CUMULATIVE_UNIQUES = """
WITH fs AS (
  SELECT user_id, min(date_trunc('day', ts)) AS first_day FROM events GROUP BY 1
), d AS (
  SELECT first_day, CAST(count(*) AS BIGINT) AS new_users FROM fs GROUP BY 1
)
SELECT epoch_us(first_day) // 1000000 AS day_s, new_users,
  CAST(SUM(new_users) OVER (ORDER BY first_day ROWS UNBOUNDED PRECEDING) AS BIGINT)
    AS cum_users
FROM d
"""


def q_doc_length_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the document-length (token-count)
    distribution — the corpus-balance inequality readout (0 = all docs
    equal, →1 = token mass concentrated in few docs).

    Scale shape: NO global sort of the corpus. Lengths collapse to a
    bounded histogram (distinct token-counts), the sorted-position sum
    uses the grouped-data identity Σ i·x over a group of c docs at
    length v starting after prev docs = v·(c·prev + c·(c+1)/2) — a
    cumulative window over HISTOGRAM rows (the quantile_disc_slab
    pattern) — and everything stays exact integer/decimal arithmetic
    until the final round6 ratio, so the DuckDB twin matches by
    construction. Output: one row (n_docs, total_tokens, gini)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    hist = (
        docs.select(F.size(TX.tokens(F.col("text"))).cast("long").alias("len"))
        .groupBy("len")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.orderBy("len").rowsBetween(Window.unboundedPreceding, -1)
    big = "decimal(38,0)"
    slab = hist.select(
        "len",
        "c",
        F.coalesce(F.sum("c").over(w), F.lit(0)).alias("prev"),
    ).select(
        (
            F.col("len").cast(big)
            * (
                F.col("c").cast(big) * F.col("prev").cast(big)
                + (F.col("c").cast(big) * (F.col("c") + 1).cast(big)) / 2
            )
        ).cast(big).alias("s_part"),
        (F.col("len").cast(big) * F.col("c").cast(big)).alias("mass"),
        "c",
    )
    return slab.agg(
        F.sum("c").alias("n_docs"),
        F.sum("mass").cast("long").alias("total_tokens"),
        round6(
            (F.lit(2).cast(big) * F.sum("s_part")).cast("double")
            / (F.sum("c").cast(big) * F.sum("mass")).cast("double")
            - (F.sum("c") + 1).cast("double") / F.sum("c").cast("double")
        ).alias("gini"),
    )


SQL_DOC_GINI = f"""
WITH hist AS (
  SELECT CAST(len(CASE WHEN length({_norm('text')}) = 0 THEN []
                       ELSE {_TOKS} END) AS BIGINT) AS len,
         CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1
), slab AS (
  SELECT len, c,
    COALESCE(SUM(c) OVER (ORDER BY len
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
  FROM hist
), parts AS (
  SELECT CAST(len AS HUGEINT) * (CAST(c AS HUGEINT) * prev
           + CAST(c AS HUGEINT) * (c + 1) // 2) AS s_part,
         CAST(len AS HUGEINT) * c AS mass, c
  FROM slab
)
SELECT CAST(SUM(c) AS BIGINT) AS n_docs,
  CAST(SUM(mass) AS BIGINT) AS total_tokens,
  {SQL_ROUND6.format(x="(CAST(CAST(2 * SUM(s_part) AS VARCHAR) AS DOUBLE)"
                       " / CAST(CAST(SUM(c) * SUM(mass) AS VARCHAR) AS DOUBLE)"
                       " - CAST(SUM(c) + 1 AS DOUBLE) / SUM(c))")} AS gini
FROM parts
"""


def q_order_priority_marginals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the two single-dimension marginals
    ((o_orderpriority), (o_orderstatus)) WITHOUT the pair or the grand
    total, a set combination neither CUBE nor ROLLUP can express (any
    3-set chain is a reordered rollup; this 2-set antichain is not).
    Completes the grouping-analytics family next to q_sales_cube /
    q_sales_rollup, with the same two-phase shape: aggregate to the
    finest grouping FIRST, then expand the handful of partials —
    decimal sums re-aggregate exactly, and the Expand multiplies
    partial rows, never fact rows."""
    o = load_table(spark, sf_dir, "orders")
    base = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        # exact 2-dp grid sum kept as decimal for the grouping-sets
        # re-aggregation (r12, functions.gridsum)
        grid_sum_dec(F.col("o_totalprice"), 2).alias("_p"),
        F.count(F.lit(1)).alias("_n"),
    )
    return (
        base.groupingSets(
            [["o_orderpriority"], ["o_orderstatus"]],
            "o_orderpriority",
            "o_orderstatus",
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.sum("_p").cast("double").alias("sum_price"),
            F.sum("_n").alias("n_orders"),
        )
        .select("gid", "o_orderpriority", "o_orderstatus", "sum_price", "n_orders")
    )


SQL_ORDER_MARGINALS = f"""
SELECT CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
  o_orderpriority, o_orderstatus,
  {_ssum('o_totalprice')} AS sum_price,
  CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
"""


def q_event_trailing_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based (RANGE) trailing window: per user and event, the
    count and exact sum of the user's events in the trailing hour —
    the VALUE-based frame mechanism next to the ROWS frames of
    ``moving_event_stats`` (SURVEY §2.6). RANGE frames are
    tie-inclusive, so the output is a pure function of the data with
    no tiebreaker column; one shuffle + one in-partition sort serves
    both window aggregates (operators/windows.py:trailing_range_stats)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_timestamp(F.col("ts").cast("timestamp")).alias("ts_s"),
        "value",
    )
    from .operators.windows import trailing_range_stats

    return trailing_range_stats(ev)


SQL_TRAILING_WINDOW = f"""
SELECT user_id, epoch_us(ts) // 1000000 AS ts_s, value,
  CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing,
  CAST(CAST(SUM(CAST(value AS {STABLE_DECIMAL})) OVER w AS VARCHAR) AS DOUBLE)
    AS sum_trailing
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""


#: Second ER blocking key: names are only compared within the same
#: FUZZY_LEN_BAND-character length band (part of the query definition —
#: the oracle bands identically).
FUZZY_LEN_BAND = 8


def q_part_name_fuzzy_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity resolution on part names: nearest
    edit-distance neighbor per DISTINCT normalized name, candidates
    restricted to the same COMPOUND blocking key — (first token,
    length band of ``FUZZY_LEN_BAND`` chars) — the classic
    blocking+matching ER shape (threshold-free: emits each name's
    closest in-block neighbor and the edit distance, so reviewers pick
    the cutoff downstream).

    Scale contract: ER runs on the distinct-name DIMENSION, never the
    part fact table — the first aggregate collapses duplicates, so the
    in-block pair space is bounded by the name vocabulary squared per
    block, not by corpus rows. The length band is the second blocking
    key (r09 VERDICT what's-wrong #3): on a diverse real-world entity
    corpus one hot first-token block ("the", "new", …) could still go
    quadratic; banding by length caps every block at (names per token ×
    band occupancy)² and is cheap recall to give up — a near-duplicate
    pair at small edit distance rarely differs by ≥ the band width in
    length (band-STRADDLING near-equal-length pairs are the real
    recall cost, the standard multi-pass-blocking trade). Blocking is
    part of the query's definition, which is why the SQL twin is exact.
    ``levenshtein`` is JVM-side in Spark and native in DuckDB — no UDF."""
    part = load_table(spark, sf_dir, "part")
    from pyspark.sql import Window

    names = (
        part.groupBy(
            F.regexp_replace(F.lower(F.trim(F.col("p_name"))), r"\s+", " ").alias(
                "name"
            )
        )
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .withColumn("bk", F.split(F.col("name"), " ").getItem(0))
        .withColumn(
            "lb", F.floor(F.length(F.col("name")) / FUZZY_LEN_BAND).cast("long")
        )
    )
    a, b = names.alias("a"), names.alias("b")
    # equi-join on the compound blocking key (hash-partitioned, skew
    # bounded by block size); no forced broadcast — the name vocabulary
    # grows with corpus diversity, so AQE decides the physical join
    pairs = a.join(
        b,
        (F.col("a.bk") == F.col("b.bk"))
        & (F.col("a.lb") == F.col("b.lb"))
        & (F.col("a.name") != F.col("b.name")),
    ).select(
        F.col("a.name").alias("name"),
        F.col("a.n_parts").alias("n_parts"),
        F.col("b.name").alias("nearest_name"),
        F.col("b.n_parts").alias("nearest_n_parts"),
        F.levenshtein(F.col("a.name"), F.col("b.name")).cast("long").alias("distance"),
    )
    w = Window.partitionBy("name").orderBy("distance", "nearest_name")
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def q_doc_unigram_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-family) tokenizer end-to-end: EM-train
    a piece vocabulary on the corpus's distinct-word table, then
    Viterbi-encode every document — per doc: word count, piece count,
    and the pieces-per-word fertility ratio (round6). The second
    tokenizer-training family next to BPE (`doc_token_pair_stats`).

    NO SQL ORACLE: the EM lattice and Viterbi DP are not expressible in
    DuckDB SQL; correctness is pinned by tests/test_unigram.py instead
    (forward-backward vs brute-force segmentation enumeration, Viterbi
    vs exhaustive argmax, layout-independence of the trained table via
    the 10-dp decimal aggregate, coverage/reconstruction properties).
    Driver records the weaker rows-only check, like emb_pca.

    Scale: training touches the corpus once (distinct-word collapse);
    EM cost rides the word vocabulary; the vocab broadcast is ≤
    UNIGRAM_VOCAB (operators.unigram) rows of driver metadata; encode is
    map-only."""
    from .operators.staging import stage
    from .operators.unigram import em_train, viterbi_encode, word_counts

    docs = load_table(spark, sf_dir, "documents")
    # STAGED (r12): the distinct-word table feeds the seed-piece pass
    # AND every EM iteration's mapInPandas — un-staged, each of those
    # re-ran the corpus explode + word aggregate through its lineage
    # (3 corpus passes for 2 EM rounds). One pass; EM re-reads the
    # bounded (word, n) checkpoint.
    vocab = em_train(word_counts(docs).transform(stage))
    if not vocab:
        return _typed_empty(
            spark,
            "doc_id long, n_words long, n_pieces long, pieces_per_word double",
        )
    enc = viterbi_encode(docs, vocab)
    n_words = F.size(TX.tokens(F.col("text")))
    return enc.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        F.size("pieces").cast("long").alias("n_pieces"),
        round6(
            F.size("pieces") / F.greatest(n_words, F.lit(1))
        ).alias("pieces_per_word"),
    )


#: Misra-Gries summary capacity for the token heavy-hitter query —
#: heavy = exact frequency · (MG_HEAVY_K+1) > total tokens. Part of the
#: query's definition (the oracle uses the same threshold).
MG_HEAVY_K = 48


def q_doc_token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic frequent tokens over the corpus: Misra-Gries
    bounded-memory candidates (capacity {MG_HEAVY_K} per partition) +
    exact verification — every token whose exact frequency exceeds
    N/(MG_HEAVY_K+1) of the N-token stream, with its exact count.

    The deterministic counterpart of ``event_cms_heavy_hitters`` (CMS is
    probabilistic, this is guaranteed-superset + exact-verify), and the
    shuffle story at 100 TB is the point: the full token multiset never
    reaches an exchange — only ≤ k·#partitions candidate values and
    their partial counts do (operators/heavy.py docstring has the
    mergeable-summaries proof sketch). The MG intermediate depends on
    partition layout; the verified OUTPUT is exact and layout-free,
    which is why a plain GROUP BY … HAVING oracle exists."""
    toks = _doc_terms(load_table(spark, sf_dir, "documents")).select(
        F.col("term").alias("token")
    ).filter(F.col("token") != "")
    from .operators.heavy import heavy_hitters_exact

    return heavy_hitters_exact(toks, MG_HEAVY_K)


SQL_TOKEN_HEAVY_HITTERS = f"""
WITH {_sql_term_counts()},
tot AS (SELECT SUM(tf) AS n FROM tf WHERE term <> '')
SELECT term AS token, tf AS n_occurrences
FROM tf, tot
WHERE term <> '' AND tf * {MG_HEAVY_K + 1} > tot.n
"""


SQL_FUZZY_MATCHES = f"""
WITH names AS (
  SELECT {_norm('p_name')} AS name, CAST(count(*) AS BIGINT) AS n_parts
  FROM part GROUP BY 1
), keyed AS (
  SELECT name, n_parts, string_split(name, ' ')[1] AS bk,
         length(name) // {FUZZY_LEN_BAND} AS lb
  FROM names
), pairs AS (
  SELECT a.name AS name, a.n_parts AS n_parts,
         b.name AS nearest_name, b.n_parts AS nearest_n_parts,
         CAST(levenshtein(a.name, b.name) AS BIGINT) AS distance
  FROM keyed a JOIN keyed b
    ON a.bk = b.bk AND a.lb = b.lb AND a.name <> b.name
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY name ORDER BY distance, nearest_name) AS _rn
  FROM pairs
)
SELECT name, n_parts, nearest_name, nearest_n_parts, distance
FROM ranked WHERE _rn = 1
"""


#: Kneser-Ney absolute discount — the standard 0.75 (Chen & Goodman
#: 1999 use held-out-estimated D; a fixed D is the common production
#: simplification and keeps both engines bit-equal).
KN_DISCOUNT = 0.75


def q_doc_kn_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean bigram log-probability under an INTERPOLATED
    KNESER-NEY LM trained on the corpus itself — the KenLM-family
    scorer real pretraining pipelines use for perplexity-based quality
    stratification (CCNet's actual filter is KN-smoothed, not the
    add-1 LM of ``doc_bigram_logprob``; this closes that gap):

        P(b|a) = (max(c(a,b) − D, 0) + D·N1+(a·)·P_cont(b)) / c(a·)
        P_cont(b) = N1+(·b) / |bigram types|

    where N1+(a·)/N1+(·b) are the forward/backward continuation type
    counts and c(a·) = Σ_b c(a,b) (history mass, so each history's
    conditional sums to 1). All counts are exact integers; the log
    expression is written with IDENTICAL parenthesization in both
    engines so the doubles agree bit-for-bit before the decimal sum.

    Shape: the bigram tf table is STAGED (it feeds the count marginals
    AND the scoring join); every marginal (cab, per-a stats, per-b
    continuation counts) derives from cab — gram-table equi-joins on
    pre-aggregated sides, |bigram types| on a 1-row broadcast. ONE
    documents scan total; no windows; AQE handles hot-gram skew."""
    from .operators.staging import stage

    tf = _bigram_counts(_docs_with_tokens(spark, sf_dir)).transform(stage)
    cab = tf.groupBy("a", "b").agg(F.sum("tf").alias("cab")).transform(stage)
    astats = cab.groupBy("a").agg(
        F.sum("cab").alias("ca"), F.count(F.lit(1)).alias("n1f")
    )
    n1r = cab.groupBy("b").agg(F.count(F.lit(1)).alias("n1r"))
    tt = cab.agg(F.count(F.lit(1)).alias("_t"))
    j = (
        tf.join(cab, ["a", "b"])
        .join(astats, "a")
        .join(n1r, "b")
        .crossJoin(F.broadcast(tt))
    )
    d_ = F.lit(KN_DISCOUNT)
    prob = (
        F.greatest(F.col("cab") - d_, F.lit(0.0))
        + d_ * F.col("n1f") * (F.col("n1r") / F.col("_t"))
    ) / F.col("ca")
    return _mean_logprob(j, F.log(prob), "n_bigrams", "avg_kn_logprob")


SQL_KN_LOGPROB = f"""
WITH {_SQL_BIGRAM_COUNTS},
cab AS (SELECT a, b, CAST(SUM(tf) AS BIGINT) AS cab FROM tf GROUP BY a, b),
astats AS (SELECT a, CAST(SUM(cab) AS BIGINT) AS ca,
                  CAST(COUNT(*) AS BIGINT) AS n1f FROM cab GROUP BY a),
n1r AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n1r FROM cab GROUP BY b),
tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM cab),
j AS (
  SELECT tf.doc_id, tf.tf, cab.cab, astats.ca, astats.n1f, n1r.n1r, tt.t
  FROM tf JOIN cab USING (a, b) JOIN astats USING (a) JOIN n1r USING (b)
  CROSS JOIN tt
)
{_sql_mean_logprob(
    f'ln((GREATEST(cab - {KN_DISCOUNT}, 0.0) + {KN_DISCOUNT} * n1f * (n1r / t)) / ca)',
    'n_bigrams', 'avg_kn_logprob')}
"""


def _midpoint(ev: DataFrame) -> DataFrame:
    """1-row ``_mid``: the midpoint of ``ev``'s ts_us range, where the
    event-statistics family splits time into two halves.

    INTEGER floor division (`div`), never via double: a double
    (min+max)/2 then cast truncates (3.5 → 3) while DuckDB's BIGINT
    cast rounds half-to-even (3.5 → 4) — a 1 µs midpoint skew that
    flips boundary events between halves. Floor division is identical
    in both engines on the non-negative ts_us domain (the oracles use
    `//`), and stays exact past 2^53 µs where the double path would
    already have lost integer precision."""
    return ev.agg(F.expr("(min(ts_us) + max(ts_us)) div 2").alias("_mid"))


def _halves(ev: DataFrame) -> DataFrame:
    """``(event_type, value, _a)`` per row of ``ev``: ``_a`` is 1 in the
    first time half (ts_us at or before the midpoint, which rides a
    1-row broadcast) and 0 in the second. Oracle twin:
    :func:`_sql_halves`."""
    return ev.crossJoin(F.broadcast(_midpoint(ev))).select(
        "event_type",
        "value",
        F.when(F.col("ts_us") <= F.col("_mid"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("_a"),
    )


def _half_counts(df: DataFrame, *keys: str, more: tuple = ()) -> DataFrame:
    """``df`` (a :func:`_halves` frame) grouped by ``keys``: ``_ca`` and
    ``_cb`` count its first- and second-half rows, next to the
    aggregates ``more``. Oracle twin: :data:`_SQL_HALF_COUNTS`."""
    return df.groupBy(*keys).agg(
        F.sum("_a").alias("_ca"),
        F.sum(F.lit(1) - F.col("_a")).alias("_cb"),
        *more,
    )


def _half_totals(df: DataFrame) -> DataFrame:
    """``df`` (a :func:`_half_counts` frame) with each event type's
    half sizes ``_na``/``_nb``, summed over a window on the bounded
    count slab."""
    from pyspark.sql import Window

    wg = Window.partitionBy("event_type")
    return df.withColumn("_na", F.sum("_ca").over(wg)).withColumn(
        "_nb", F.sum("_cb").over(wg)
    )


def _sql_halves(value: bool = True) -> str:
    """CTEs ``ev``, ``mid`` and ``sided``, the oracle twin of
    :func:`_halves`: ``sided`` holds ``(event_type, value, a)`` per
    event with a non-NULL value (``value=False``: per event, without
    the value column), ``a`` = 1 in the first time half."""
    v, keep = ("value, ", " WHERE value IS NOT NULL") if value else ("", "")
    return f"""ev AS (SELECT event_type, {v}epoch_us(ts) AS ts_us FROM events{keep}),
mid AS (SELECT (MIN(ts_us) + MAX(ts_us)) // 2 AS m FROM ev),
sided AS (
  SELECT event_type, {v}CASE WHEN ts_us <= mid.m THEN 1 ELSE 0 END AS a
  FROM ev CROSS JOIN mid
)"""


#: Oracle twin of :func:`_half_counts`' two sums, over a ``sided`` CTE.
_SQL_HALF_COUNTS = (
    "CAST(SUM(a) AS BIGINT) AS ca, CAST(SUM(1 - a) AS BIGINT) AS cb"
)

#: CTE ``hist`` over :func:`_sql_halves`, shared by the KS and MWU
#: twins: the (event_type, value) half counts ``ca``/``cb`` with each
#: type's half sizes ``na``/``nb`` (:func:`_half_totals`).
_SQL_HALF_HIST = f"""{_sql_halves()},
hist AS (
  SELECT event_type, value, ca, cb,
         SUM(ca) OVER (PARTITION BY event_type) AS na,
         SUM(cb) OVER (PARTITION BY event_type) AS nb
  FROM (SELECT event_type, value, {_SQL_HALF_COUNTS} FROM sided GROUP BY 1, 2)
)"""


def q_event_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KOLMOGOROV-SMIRNOV drift per event type: the exact KS
    statistic between the value distribution of the first and second
    half of the time range — the standard nonparametric detector for
    "did this metric's distribution move?", next to the token-level
    KL (`doc_source_drift`) and χ² (`token_chi2_drift`) drift family.

    EXACT, not approximate: sup|F_a − F_b| is computed in INTEGER
    arithmetic as max|cum_a·n_b − cum_b·n_a| over the merged value
    histogram (the double division happens once at the end, identical
    in both engines), so there is no ECDF float accumulation anywhere.

    Scale: one fact scan → (type, value, side) histogram (map-side
    partials absorb duplicates; the slab is ≤ distinct values per
    type, the gini/quantile-slab discipline) → one cumulative window
    over the bounded slab → one max aggregate. The time midpoint rides
    a 1-row broadcast; NULL values are excluded on both engines."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    hist = _half_totals(_half_counts(_halves(ev), "event_type", "value"))
    wcum = (
        Window.partitionBy("event_type")
        .orderBy(F.col("value").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn("_cuma", F.sum("_ca").over(wcum)).withColumn(
        "_cumb", F.sum("_cb").over(wcum)
    )
    return (
        cum.where((F.col("_na") > 0) & (F.col("_nb") > 0))
        .groupBy("event_type")
        .agg(
            F.max("_na").cast("long").alias("n_first"),
            F.max("_nb").cast("long").alias("n_second"),
            # products in decimal(38,0): cum·n reaches n² (long overflow
            # past n ≈ 3e9 per type — real at the 100 TB posture); the
            # oracle's window SUMs are HUGEINT so DuckDB is 128-bit
            # exact natively
            F.max(
                F.abs(
                    F.col("_cuma").cast("decimal(38,0)") * F.col("_nb")
                    - F.col("_cumb").cast("decimal(38,0)") * F.col("_na")
                )
            )
            .cast("long")
            .alias("d_num"),
        )
        .select(
            "event_type",
            "n_first",
            "n_second",
            "d_num",
            round6(
                F.col("d_num")
                / (
                    F.col("n_first").cast("double")
                    * F.col("n_second").cast("double")
                )
            ).alias("ks_stat"),
        )
    )


SQL_KS_DRIFT = f"""
WITH {_SQL_HALF_HIST},
cum AS (
  SELECT event_type, na, nb, SUM(ca) OVER w AS cuma, SUM(cb) OVER w AS cumb
  FROM hist
  WINDOW w AS (PARTITION BY event_type ORDER BY value ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
agg AS (
  SELECT event_type, CAST(MAX(na) AS BIGINT) AS n_first,
         CAST(MAX(nb) AS BIGINT) AS n_second,
         CAST(MAX(ABS(cuma * nb - cumb * na)) AS BIGINT) AS d_num
  FROM cum WHERE na > 0 AND nb > 0 GROUP BY event_type
)
SELECT event_type, n_first, n_second, d_num,
       {SQL_ROUND6.format(
           x='d_num / (CAST(n_first AS DOUBLE) * CAST(n_second AS DOUBLE))'
       )} AS ks_stat
FROM agg
"""


def q_event_mwu_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample MANN-WHITNEY U drift per event type: the
    rank-based member of the drift-test family, next to the exact KS
    (`event_ks_drift` — sup-distance, sensitive to any shape change)
    and χ² (`token_chi2_drift`): MWU/AUC reads stochastic dominance —
    "did the second half's values tend LARGER?" — which KS deliberately
    does not distinguish from any other divergence.

    EXACT with ties: midranks are computed on the merged (type, value)
    histogram in INTEGER arithmetic carried at 2× (midrank2 =
    2·cum_before + n_v + 1, always integral), so R and U are exact
    integers in both engines; only the final AUC division is float.
    u2_stat = 2·U_first; AUC = U/(n1·n2) = u2/(2·n1·n2).

    Scale: same shape as the KS twin — one fact scan → (type, value)
    histogram (map-side partials; slab ≤ distinct values per type) →
    one cumulative window over the bounded slab → one aggregate.
    Products ride decimal(38,0) (R reaches n² — past long at ~3e9 rows
    per type, real at the 100 TB posture); the final u2 cast to long
    documents the same domain bound the KS d_num carries."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    hist = _half_totals(_half_counts(_halves(ev), "event_type", "value"))
    wcum = (
        Window.partitionBy("event_type")
        .orderBy(F.col("value").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cnt = F.col("_ca") + F.col("_cb")
    cum = hist.withColumn(
        "_mr2", F.lit(2) * (F.sum(cnt).over(wcum) - cnt) + cnt + F.lit(1)
    )
    agg = (
        cum.where((F.col("_na") > 0) & (F.col("_nb") > 0))
        .groupBy("event_type")
        .agg(
            F.max("_na").cast("long").alias("n_first"),
            F.max("_nb").cast("long").alias("n_second"),
            F.sum(
                F.col("_ca").cast("decimal(38,0)") * F.col("_mr2")
            ).alias("_r2a"),
        )
    )
    u2 = (
        F.col("_r2a")
        - F.col("n_first").cast("decimal(38,0)") * (F.col("n_first") + 1)
    ).cast("long")
    return agg.select(
        "event_type",
        "n_first",
        "n_second",
        u2.alias("u2_stat"),
    ).select(
        "event_type",
        "n_first",
        "n_second",
        "u2_stat",
        round6(
            F.col("u2_stat").cast("double")
            / (
                F.lit(2.0)
                * F.col("n_first").cast("double")
                * F.col("n_second").cast("double")
            )
        ).alias("auc"),
    )


SQL_MWU_DRIFT = f"""
WITH {_SQL_HALF_HIST},
cum AS (
  SELECT event_type, ca, na, nb,
         2 * (SUM(ca + cb) OVER (PARTITION BY event_type ORDER BY value ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (ca + cb))
           + (ca + cb) + 1 AS mr2
  FROM hist
),
agg AS (
  SELECT event_type, CAST(MAX(na) AS BIGINT) AS n_first,
         CAST(MAX(nb) AS BIGINT) AS n_second,
         SUM(CAST(ca AS HUGEINT) * mr2) AS r2a
  FROM cum WHERE na > 0 AND nb > 0 GROUP BY event_type
),
u AS (
  SELECT event_type, n_first, n_second,
         CAST(r2a - CAST(n_first AS HUGEINT) * (n_first + 1) AS BIGINT)
           AS u2_stat
  FROM agg
)
SELECT event_type, n_first, n_second, u2_stat,
       {SQL_ROUND6.format(
           x='CAST(u2_stat AS DOUBLE) / (2.0 * CAST(n_first AS DOUBLE)'
             ' * CAST(n_second AS DOUBLE))'
       )} AS auc
FROM u
"""


def q_event_welch_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WELCH's unequal-variance t-test per event type between the two
    time halves — the PARAMETRIC member of the drift family: KS
    reads any distributional change, MWU reads dominance, Welch reads
    specifically "did the MEAN move, given each half's own variance?"
    with the Welch–Satterthwaite effective df an experimentation
    platform reports next to the statistic.

    Determinism: the five moments per side (n, Σx, Σx²) are
    decimal(28,10) sums of IEEE products — order-independent and
    engine-identical — and every double expression after them is
    written with IDENTICAL parenthesization in both engines (the
    brand_price_ols discipline). Degenerate groups (a side with < 2
    rows, or zero pooled variance) yield NULL t/df on both sides.

    Scale: one fact scan → ONE hash aggregate per type with
    conditional sums (no per-side join, no second pass) → map-only
    closed form. The midpoint rides the same 1-row broadcast and
    integer `div 2` convention as the KS/MWU twins."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    a, b = F.col("_a") == 1, F.col("_a") == 0
    v = F.col("value")
    # value is a 2-dp grid column (squares on the 4-dp grid); the CASE
    # branches pass NULL through the grid split exactly like a decimal
    # cast does
    m = _half_counts(
        _halves(ev),
        "event_type",
        more=(
            grid_sum(F.when(a, v), 2).alias("_s1"),
            grid_sum(F.when(b, v), 2).alias("_s2"),
            grid_sum(F.when(a, v * v), 4).alias("_q1"),
            grid_sum(F.when(b, v * v), 4).alias("_q2"),
        ),
    ).where((F.col("_ca") > 0) & (F.col("_cb") > 0))
    n1d, n2d = F.col("_ca").cast("double"), F.col("_cb").cast("double")
    stats = m.select(
        "event_type",
        F.col("_ca").alias("n_first"),
        F.col("_cb").alias("n_second"),
        (F.col("_s1") / n1d).alias("_m1"),
        (F.col("_s2") / n2d).alias("_m2"),
        F.when(
            F.col("_ca") > 1,
            (F.col("_q1") - n1d * (F.col("_s1") / n1d) * (F.col("_s1") / n1d))
            / (n1d - 1.0),
        ).alias("_v1"),
        F.when(
            F.col("_cb") > 1,
            (F.col("_q2") - n2d * (F.col("_s2") / n2d) * (F.col("_s2") / n2d))
            / (n2d - 1.0),
        ).alias("_v2"),
    )
    vn1 = F.col("_v1") / F.col("n_first").cast("double")
    vn2 = F.col("_v2") / F.col("n_second").cast("double")
    pooled = vn1 + vn2
    ok = (
        F.col("_v1").isNotNull()
        & F.col("_v2").isNotNull()
        & (pooled > 0)
    )
    t = (F.col("_m1") - F.col("_m2")) / F.sqrt(pooled)
    dfw = (pooled * pooled) / (
        vn1 * vn1 / (F.col("n_first").cast("double") - 1.0)
        + vn2 * vn2 / (F.col("n_second").cast("double") - 1.0)
    )
    return stats.select(
        "event_type",
        "n_first",
        "n_second",
        round6(F.col("_m1")).alias("mean_first"),
        round6(F.col("_m2")).alias("mean_second"),
        F.when(ok, round6(t)).alias("t_stat"),
        F.when(ok, round6(dfw)).alias("df_welch"),
    )


SQL_WELCH_DRIFT = f"""
WITH {_sql_halves()},
m AS (
  SELECT event_type, {_SQL_HALF_COUNTS},
         {_ssum('CASE WHEN a = 1 THEN value END')} AS s1,
         {_ssum('CASE WHEN a = 0 THEN value END')} AS s2,
         {_ssum('CASE WHEN a = 1 THEN value * value END')} AS q1,
         {_ssum('CASE WHEN a = 0 THEN value * value END')} AS q2
  FROM sided GROUP BY 1
),
stats AS (
  SELECT event_type, ca AS n_first, cb AS n_second,
         s1 / CAST(ca AS DOUBLE) AS m1,
         s2 / CAST(cb AS DOUBLE) AS m2,
         CASE WHEN ca > 1 THEN
           (q1 - CAST(ca AS DOUBLE) * (s1 / CAST(ca AS DOUBLE))
                 * (s1 / CAST(ca AS DOUBLE))) / (CAST(ca AS DOUBLE) - 1.0)
         END AS v1,
         CASE WHEN cb > 1 THEN
           (q2 - CAST(cb AS DOUBLE) * (s2 / CAST(cb AS DOUBLE))
                 * (s2 / CAST(cb AS DOUBLE))) / (CAST(cb AS DOUBLE) - 1.0)
         END AS v2
  FROM m WHERE ca > 0 AND cb > 0
),
vp AS (
  SELECT event_type, n_first, n_second, m1, m2, v1, v2,
         v1 / CAST(n_first AS DOUBLE) + v2 / CAST(n_second AS DOUBLE)
           AS pooled
  FROM stats
)
SELECT event_type, n_first, n_second,
       {SQL_ROUND6.format(x='m1')} AS mean_first,
       {SQL_ROUND6.format(x='m2')} AS mean_second,
       CASE WHEN v1 IS NOT NULL AND v2 IS NOT NULL AND pooled > 0 THEN
         {SQL_ROUND6.format(x='(m1 - m2) / sqrt(pooled)')}
       END AS t_stat,
       CASE WHEN v1 IS NOT NULL AND v2 IS NOT NULL AND pooled > 0 THEN
         {SQL_ROUND6.format(
             x='(pooled * pooled) / ((v1 / CAST(n_first AS DOUBLE))'
               ' * (v1 / CAST(n_first AS DOUBLE))'
               ' / (CAST(n_first AS DOUBLE) - 1.0)'
               ' + (v2 / CAST(n_second AS DOUBLE))'
               ' * (v2 / CAST(n_second AS DOUBLE))'
               ' / (CAST(n_second AS DOUBLE) - 1.0))'
         )}
       END AS df_welch
FROM vp
"""


#: CUSUM hour bucket in microseconds (3600 s).
CUSUM_HOUR_US = 3_600_000_000


def q_event_cusum_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM CHANGE-POINT detection per event type (r11): over the
    hourly event-count series, the cumulative-sum statistic
    S_h = Σ_{{i≤h}} (x_i − mean) peaks at the most likely level-shift
    point — the classic "when did the rate change?" detector that
    complements the drift family's "did the distribution change?"
    (KS / MWU / Welch read values; CUSUM localizes WHEN).

    EXACT integer arithmetic: S_h is carried scaled by H (the hour
    count) as S2_h = H·cum_h − h·T (cum_h = events through hour h,
    T = total, h = 1-based hour index), so the argmax and the peak are
    integer-exact in both engines; ties break to the EARLIEST hour.
    cusum_frac = |S2|/(H·T) normalizes to a scale-free [0, ~0.5] mass
    displacement. H·cum ≤ H·T overflows long only past ~10¹⁸
    hour-events (a year of hours × 10¹⁴ events — beyond the 100 TB
    posture's fact table).

    Scale: one fact scan → (type, hour) count aggregate (map-side
    partials; slab = types × hours, bounded) → two windows over the
    bounded slab → one peak row per type via row_number."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            F.expr(f"(ts_us div {CUSUM_HOUR_US}) * 3600").alias("hour_s"),
        )
        .groupBy("event_type", "hour_s")
        .agg(F.count(F.lit(1)).alias("_x"))
    )
    from pyspark.sql import Window

    wg = Window.partitionBy("event_type")
    word = wg.orderBy(F.col("hour_s").asc())
    wcum = word.rowsBetween(Window.unboundedPreceding, 0)
    scored = (
        hourly.withColumn("_h_total", F.count(F.lit(1)).over(wg))
        .withColumn("_t_total", F.sum("_x").over(wg))
        .withColumn("_cum", F.sum("_x").over(wcum))
        .withColumn("_rid", F.row_number().over(word))
        .withColumn(
            "_s2",
            F.col("_h_total") * F.col("_cum")
            - F.col("_rid") * F.col("_t_total"),
        )
    )
    peak = scored.withColumn(
        "_rn",
        F.row_number().over(
            wg.orderBy(F.abs(F.col("_s2")).desc(), F.col("hour_s").asc())
        ),
    ).where(F.col("_rn") == 1)
    return peak.select(
        "event_type",
        F.col("_h_total").cast("long").alias("n_hours"),
        F.col("_t_total").cast("long").alias("n_events"),
        F.col("hour_s").cast("long").alias("shift_hour_s"),
        F.abs(F.col("_s2")).cast("long").alias("cusum_peak"),
        round6(
            F.abs(F.col("_s2")).cast("double")
            / (
                F.col("_h_total").cast("double")
                * F.col("_t_total").cast("double")
            )
        ).alias("cusum_frac"),
    )


SQL_CUSUM_SHIFT = f"""
WITH hourly AS (
  SELECT event_type, (epoch_us(ts) // {CUSUM_HOUR_US}) * 3600 AS hour_s,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
scored AS (
  SELECT event_type, hour_s,
         COUNT(*) OVER (PARTITION BY event_type) AS h_total,
         SUM(x) OVER (PARTITION BY event_type) AS t_total,
         SUM(x) OVER (PARTITION BY event_type ORDER BY hour_s ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         row_number() OVER (PARTITION BY event_type ORDER BY hour_s ASC)
           AS rid
  FROM hourly
),
s2 AS (
  SELECT event_type, hour_s, h_total, t_total,
         h_total * cum - rid * t_total AS s2v
  FROM scored
),
peak AS (
  SELECT event_type, hour_s, h_total, t_total, s2v,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY ABS(s2v) DESC, hour_s ASC) AS rn
  FROM s2
)
SELECT event_type,
       CAST(h_total AS BIGINT) AS n_hours,
       CAST(t_total AS BIGINT) AS n_events,
       CAST(hour_s AS BIGINT) AS shift_hour_s,
       CAST(ABS(s2v) AS BIGINT) AS cusum_peak,
       {SQL_ROUND6.format(
           x='CAST(ABS(s2v) AS DOUBLE) / (CAST(h_total AS DOUBLE)'
             ' * CAST(t_total AS DOUBLE))'
       )} AS cusum_frac
FROM peak WHERE rn = 1
"""


#: PSI decile edges: 9 interior cut points = 10 buckets, the industry
#: convention for the population-stability readout.
PSI_DECILES = [(f"_d{i}", i, 10) for i in range(1, 10)]


def q_event_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POPULATION STABILITY INDEX per event type — the credit-
    risk/ML-monitoring industry's standard drift score: decile buckets
    are frozen on the FIRST half's value distribution, the second
    half's population shares are compared bucket-by-bucket, and
    PSI = Σ (p_i − q_i)·ln(p_i/q_i) (rule of thumb: <0.1 stable, >0.25
    action). Complements the hypothesis-test family (KS/MWU/Welch give
    significance, PSI gives the magnitude score dashboards threshold).

    Determinism: the decile edges are EXACT discrete quantiles
    (quantile_disc_slab's integer-arithmetic ranks); bucket assignment
    is an identical ≤-edge CASE chain in both engines; shares and the
    ln terms are IEEE doubles with identical parenthesization; and the
    ≤10-term PSI sum rides a decimal cast so addition order cannot
    matter. Buckets empty on either side are EXCLUDED from the sum
    (the epsilon-free convention — deterministic, no tuning constant)
    and reported via n_buckets_used.

    Scale: midpoint broadcast → one slab pass on the first half
    (bounded histogram window) → edges broadcast back (≤ |types|·9
    doubles) → ONE (type, bucket) cell aggregate (≤ |types|·10 rows)
    → windows and the PSI fold over that bounded slab."""
    from .operators.rank import quantile_disc_slab

    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    sided = _halves(ev)
    edges = quantile_disc_slab(
        sided.where(F.col("_a") == 1),
        "event_type",
        "value",
        PSI_DECILES,
        count_alias="_n1",
    ).drop("_n1")
    bucket = F.lit(10)
    for name, _, _ in reversed(PSI_DECILES):
        bucket = F.when(
            F.col("value") <= F.col(name), F.lit(int(name[2:]))
        ).otherwise(bucket)
    cells = _half_counts(
        sided.join(F.broadcast(edges), "event_type").select(
            "event_type", "_a", bucket.alias("_b")
        ),
        "event_type",
        "_b",
    )
    tot = _half_totals(cells)
    p = F.col("_ca").cast("double") / F.col("_na").cast("double")
    q = F.col("_cb").cast("double") / F.col("_nb").cast("double")
    term = (p - q) * F.log(p / q)
    used = (F.col("_ca") > 0) & (F.col("_cb") > 0)
    return (
        tot.where((F.col("_na") > 0) & (F.col("_nb") > 0))
        .groupBy("event_type")
        .agg(
            F.max("_na").cast("long").alias("n_first"),
            F.max("_nb").cast("long").alias("n_second"),
            F.count_if(used).cast("long").alias("n_buckets_used"),
            round6(stable_sum(F.when(used, term))).alias("psi"),
        )
    )


def _sql_psi_drift() -> str:
    chain = " ".join(
        f"WHEN s.value <= e.{name} THEN {num}" for name, num, _ in PSI_DECILES
    )
    edges = _sql_quantile_disc(
        "(SELECT event_type AS g, value AS v FROM sided WHERE a = 1)",
        PSI_DECILES,
    )
    p = "CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)"
    q = "CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)"
    return f"""
WITH {_sql_halves()},
edges AS ({edges}),
cells AS (
  SELECT s.event_type, CASE {chain} ELSE 10 END AS b, {_SQL_HALF_COUNTS}
  FROM sided s JOIN edges e ON e.g = s.event_type
  GROUP BY 1, 2
),
tot AS (
  SELECT event_type, ca, cb,
         SUM(ca) OVER (PARTITION BY event_type) AS na,
         SUM(cb) OVER (PARTITION BY event_type) AS nb
  FROM cells
)
SELECT event_type,
       CAST(MAX(na) AS BIGINT) AS n_first,
       CAST(MAX(nb) AS BIGINT) AS n_second,
       CAST(count_if(ca > 0 AND cb > 0) AS BIGINT) AS n_buckets_used,
       {SQL_ROUND6.format(x=_ssum(
           f"CASE WHEN ca > 0 AND cb > 0 THEN"
           f" (({p}) - ({q})) * ln(({p}) / ({q})) END"
       ))} AS psi
FROM tot WHERE na > 0 AND nb > 0
GROUP BY event_type
"""


#: Winsorizing clip bounds: the exact discrete p05 and p95.
WINSOR_BOUNDS = [("p05", 1, 20), ("p95", 19, 20)]


def q_event_winsor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINSORIZED per-type stats: clip values to the exact
    discrete [p05, p95] before the mean — the robust-estimation
    counterpart to the MAD (MAD makes dispersion outlier-proof,
    winsorizing makes the LOCATION estimate outlier-proof; the raw
    mean is reported next to it so the gap itself reads as an outlier
    score). Every serious metrics pipeline winsorizes heavy-tailed
    monetary/latency columns before averaging.

    Determinism: the clip bounds are exact discrete quantiles
    (integer-rank slab), LEAST/GREATEST is pure IEEE comparison, and
    the winsorized mean rides the same decimal-stable sum as every
    other avg in the engine.

    Scale: one slab pass (bounded histogram window) + one fact pass
    with the ≤ |types|-row bounds on a broadcast — the exact
    event_value_mad shape."""
    from .operators.rank import quantile_disc_slab

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    bounds = quantile_disc_slab(
        ev, "event_type", "value", WINSOR_BOUNDS, count_alias="n_values"
    )
    w = F.greatest(F.least(F.col("value"), F.col("p95")), F.col("p05"))
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n_values").cast("long").alias("n_values"),
            F.max("p05").alias("p05"),
            F.max("p95").alias("p95"),
            # value (and its clamp to the 2-dp order-statistic bounds)
            # stays on the 2-dp grid: exact int64 grid sums
            (grid_sum(F.col("value"), 2) / F.count("value")).alias(
                "mean_raw"
            ),
            grid_sum(w, 2).alias("_ws"),
            F.count_if(F.col("value") < F.col("p05"))
            .cast("long")
            .alias("n_clipped_low"),
            F.count_if(F.col("value") > F.col("p95"))
            .cast("long")
            .alias("n_clipped_high"),
        )
        .select(
            "event_type",
            "n_values",
            "p05",
            "p95",
            round6(F.col("mean_raw")).alias("mean_raw"),
            round6(
                F.col("_ws") / F.col("n_values").cast("double")
            ).alias("mean_winsor"),
            "n_clipped_low",
            "n_clipped_high",
        )
    )


SQL_WINSOR_STATS = f"""
WITH ev AS (
  SELECT event_type AS g, value AS v FROM events WHERE value IS NOT NULL
),
bounds AS ({_sql_quantile_disc('ev', WINSOR_BOUNDS, 'n_values')})
SELECT ev.g AS event_type,
       MAX(bounds.n_values) AS n_values,
       MAX(bounds.p05) AS p05,
       MAX(bounds.p95) AS p95,
       {SQL_ROUND6.format(x=_savg('ev.v', 'COUNT(ev.v)'))} AS mean_raw,
       {SQL_ROUND6.format(
           x=_savg(
               'GREATEST(LEAST(ev.v, bounds.p95), bounds.p05)',
               'MAX(bounds.n_values)',
           )
       )} AS mean_winsor,
       CAST(count_if(ev.v < bounds.p05) AS BIGINT) AS n_clipped_low,
       CAST(count_if(ev.v > bounds.p95) AS BIGINT) AS n_clipped_high
FROM ev JOIN bounds ON bounds.g = ev.g
GROUP BY ev.g
"""


def q_event_value_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust dispersion per event type: exact discrete MEDIAN ABSOLUTE
    DEVIATION — median of |value − median| — the outlier-resistant
    scale statistic (a single corrupt 1e12 reading moves a stddev
    arbitrarily, moves the MAD not at all). Both medians are EXACT
    discrete quantiles via the histogram-slab operator
    (operators.rank.quantile_disc_slab): a hash aggregate + bounded
    cumulative window each, never a per-group sort; the deviation pass
    re-reads the fact once with the per-type median on a broadcast.

    Determinism: discrete quantiles select actual data values (no
    interpolation), and |x − med| is one IEEE subtraction — identical
    in both engines, so even the second slab's keys agree exactly."""
    from .operators.rank import quantile_disc_slab

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    med = quantile_disc_slab(
        ev, "event_type", "value", [("med", 1, 2)], count_alias="n_values"
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.abs(F.col("value") - F.col("med")).alias("_adev"),
    )
    mad = quantile_disc_slab(
        dev, "event_type", "_adev", [("mad", 1, 2)], count_alias="_n2"
    ).drop("_n2")
    return med.join(mad, "event_type").select(
        "event_type", "n_values", "med", "mad"
    )


SQL_EVENT_MAD = f"""
WITH ev AS (
  SELECT event_type AS g, value AS v FROM events WHERE value IS NOT NULL
),
med AS ({_sql_quantile_disc('ev', [('med', 1, 2)], 'n_values')}),
mad AS ({_sql_quantile_disc(
    '(SELECT g, ABS(ev.v - med.med) AS v FROM ev JOIN med USING (g))',
    [('mad', 1, 2)],
)})
SELECT g AS event_type, n_values, med, mad FROM med JOIN mad USING (g)
"""


#: Singularity guard for the closed-form OLS: groups whose normal
#: matrix determinant falls below this (computed identically in both
#: engines) emit NULL coefficients instead of garbage.
OLS_DET_EPS = 1e-9


def q_brand_price_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form MULTIVARIATE least squares per group — per part
    brand, regress line-item revenue on quantity and discount
    (y = b0 + b1·qty + b2·disc) by solving the 3×3 normal equations
    with Cramer's rule over EXACT decimal-accumulated moments. The
    multi-feature extension of the simple-regression forecast
    (`forecast_revenue`): grouped model fitting as ONE aggregate, the
    k×dim-metadata convention (9 moments per group, never a matrix
    library on the hot path).

    Determinism: every moment (Σx, Σx², Σxy …) is an EXACT grid sum
    (functions.gridsum, r12): quantity is integer-valued, discount and
    price sit on the 2-dp grid, so each product is a 0/2/4-dp grid
    value and the int64 split-sum is value-identical to the old
    decimal(28,10) cast-sum (the oracle keeps the decimal formula and
    re-proves the equality per SF) at a ninth of the per-row cost —
    the decimal casts WERE this query (isolated A/B: 4.1 s decimal vs
    0.68 s grid for the 9-sum aggregate). Layout-free (integer adds);
    the Cramer determinants are then plain double arithmetic with
    IDENTICAL parenthesization in both engines. Near-singular groups
    (|det| < OLS_DET_EPS) yield NULL coefficients on both sides.

    Scale: fact scan → broadcast dim join (brand) → one hash aggregate
    to groups×9 moments → map-only closed form. No windows, no
    iteration, no driver solve. Overflow audit for the split sums is
    in functions/gridsum.py (worst expression x1·y at 4 dp clears
    7e13 rows)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").alias("x1"),
        F.col("l_discount").alias("x2"),
        F.col("l_extendedprice").alias("y"),
    )
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), F.col("p_brand").alias("brand")
    )
    # grid dp per moment: x1 (quantity) integral, x2 (discount) and y
    # (price) 2 dp → products at the summed dp
    m = (
        li.join(F.broadcast(part), "l_partkey")
        .groupBy("brand")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            grid_sum(F.col("x1"), 0).alias("s1"),
            grid_sum(F.col("x2"), 2).alias("s2"),
            grid_sum(F.col("x1") * F.col("x1"), 0).alias("s11"),
            grid_sum(F.col("x2") * F.col("x2"), 4).alias("s22"),
            grid_sum(F.col("x1") * F.col("x2"), 2).alias("s12"),
            grid_sum(F.col("y"), 2).alias("sy"),
            grid_sum(F.col("x1") * F.col("y"), 2).alias("s1y"),
            grid_sum(F.col("x2") * F.col("y"), 4).alias("s2y"),
        )
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    s11, s22, s12 = F.col("s11"), F.col("s22"), F.col("s12")
    sy, s1y, s2y = F.col("sy"), F.col("s1y"), F.col("s2y")
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    d0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)
    )
    d1 = (
        n * (s1y * s22 - s12 * s2y)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    )
    d2 = (
        n * (s11 * s2y - s1y * s12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - s11 * s2)
    )
    ok = F.abs(det) >= F.lit(OLS_DET_EPS)
    return m.select(
        "brand",
        n.cast("long").alias("n_rows"),
        F.when(ok, round6(d0 / det)).alias("b0"),
        F.when(ok, round6(d1 / det)).alias("b1"),
        F.when(ok, round6(d2 / det)).alias("b2"),
    )


def _ols_sql() -> str:
    det = (
        "(n * (s11 * s22 - s12 * s12)"
        " - s1 * (s1 * s22 - s12 * s2)"
        " + s2 * (s1 * s12 - s11 * s2))"
    )
    d0 = (
        "(sy * (s11 * s22 - s12 * s12)"
        " - s1 * (s1y * s22 - s12 * s2y)"
        " + s2 * (s1y * s12 - s11 * s2y))"
    )
    d1 = (
        "(n * (s1y * s22 - s12 * s2y)"
        " - sy * (s1 * s22 - s12 * s2)"
        " + s2 * (s1 * s2y - s1y * s2))"
    )
    d2 = (
        "(n * (s11 * s2y - s1y * s12)"
        " - s1 * (s1 * s2y - s1y * s2)"
        " + sy * (s1 * s12 - s11 * s2))"
    )
    def coef(dn: str) -> str:
        return (
            f"CASE WHEN ABS({det}) >= {OLS_DET_EPS} THEN "
            + SQL_ROUND6.format(x=f"{dn} / {det}")
            + " END"
        )
    return f"""
WITH j AS (
  SELECT p.p_brand AS brand, l.l_quantity AS x1, l.l_discount AS x2,
         l.l_extendedprice AS y
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
m AS (
  SELECT brand, CAST(COUNT(*) AS DOUBLE) AS n,
         {_ssum('x1')} AS s1, {_ssum('x2')} AS s2,
         {_ssum('x1 * x1')} AS s11, {_ssum('x2 * x2')} AS s22,
         {_ssum('x1 * x2')} AS s12, {_ssum('y')} AS sy,
         {_ssum('x1 * y')} AS s1y, {_ssum('x2 * y')} AS s2y
  FROM j GROUP BY brand
)
SELECT brand, CAST(n AS BIGINT) AS n_rows,
       {coef(d0)} AS b0, {coef(d1)} AS b1, {coef(d2)} AS b2
FROM m
"""


#: How many most-drifted tokens the χ² readout returns.
CHI2_TOP_K = 30


def q_token_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-TOKEN χ² drift between the English slice and the rest of the
    corpus: for each token a 2×2 contingency table (token vs all other
    tokens × en vs rest) scored with the closed-form chi-square
    N·(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) — the token-level companion of
    the distribution-level KL (`doc_source_drift`): KL says "this slice
    drifted", χ² says WHICH tokens carry the drift. Top
    ``CHI2_TOP_K`` by score (token ascending on ties — the cutoff is
    deterministic because the rounded scores are bit-identical).

    Determinism: all eight table cells are exact integers; the χ²
    arithmetic is IEEE double with identical parenthesization in both
    engines and is round6-ed BEFORE the ordering, so equal-to-6dp
    scores tie-break lexically the same way everywhere.

    Scale: one explode → (token, side) counts (map-side combine) →
    1-row margin broadcast → map-only χ² → TakeOrdered top-k (no full
    sort)."""
    toks = _doc_terms(
        _docs_with_tokens(spark, sf_dir),
        F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0)).alias("_en"),
    )
    counts = toks.groupBy("term").agg(
        F.sum("_en").alias("a"),
        F.sum(F.lit(1) - F.col("_en")).alias("b"),
    )
    margins = counts.agg(
        F.sum("a").alias("_na"), F.sum("b").alias("_nb")
    )
    j = counts.crossJoin(F.broadcast(margins)).where(
        (F.col("_na") > 0) & (F.col("_nb") > 0)
    )
    a = F.col("a").cast("double")
    b = F.col("b").cast("double")
    c = (F.col("_na") - F.col("a")).cast("double")
    dd = (F.col("_nb") - F.col("b")).cast("double")
    num = (a + b + c + dd) * ((a * dd - b * c) * (a * dd - b * c))
    den = ((a + b) * (c + dd)) * ((a + c) * (b + dd))
    scored = j.select(
        F.col("term").alias("token"),
        F.col("a").cast("long").alias("n_en"),
        F.col("b").cast("long").alias("n_rest"),
        round6(num / den).alias("chi2"),
    )
    return scored.orderBy(F.col("chi2").desc(), F.col("token").asc()).limit(
        CHI2_TOP_K
    )


SQL_CHI2_DRIFT = f"""
WITH {_sql_term_counts('lang')},
counts AS (
  SELECT term AS token,
         CAST(SUM(CASE WHEN lang = 'en' THEN tf ELSE 0 END) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE tf END) AS BIGINT) AS b
  FROM tf GROUP BY term
),
margins AS (SELECT SUM(a) AS na, SUM(b) AS nb FROM counts),
scored AS (
  SELECT token, a AS n_en, b AS n_rest,
         {SQL_ROUND6.format(x=(
             '(CAST(a AS DOUBLE) + CAST(b AS DOUBLE)'
             ' + CAST(na - a AS DOUBLE) + CAST(nb - b AS DOUBLE))'
             ' * ((CAST(a AS DOUBLE) * CAST(nb - b AS DOUBLE)'
             ' - CAST(b AS DOUBLE) * CAST(na - a AS DOUBLE))'
             ' * (CAST(a AS DOUBLE) * CAST(nb - b AS DOUBLE)'
             ' - CAST(b AS DOUBLE) * CAST(na - a AS DOUBLE)))'
             ' / (((CAST(a AS DOUBLE) + CAST(b AS DOUBLE))'
             ' * (CAST(na - a AS DOUBLE) + CAST(nb - b AS DOUBLE)))'
             ' * ((CAST(a AS DOUBLE) + CAST(na - a AS DOUBLE))'
             ' * (CAST(b AS DOUBLE) + CAST(nb - b AS DOUBLE))))'
         ))} AS chi2
  FROM counts CROSS JOIN margins
  WHERE na > 0 AND nb > 0
)
SELECT token, n_en, n_rest, chi2
FROM scored ORDER BY chi2 DESC, token ASC LIMIT {CHI2_TOP_K}
"""


def q_doc_gate_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S KAPPA between the two deterministic quality gates — the
    absolute Gopher rule gate and the relative per-language percentile
    gate: do they agree beyond what their keep rates force by chance?
    The standard inter-rater statistic, here used the way curation
    teams actually use it (κ near 0 means the gates rank different
    things — keep both; κ near 1 means one is redundant).

    One row: the 2×2 agreement table (both-keep / gopher-only /
    quality-only / both-drop), raw agreement p_o, and κ =
    (p_o − p_e)/(1 − p_e) with p_e the chance agreement of the
    marginal keep rates. All four cells are exact integers; p_o, p_e,
    κ are IEEE doubles with identical parenthesization in both engines
    (round6 output); κ is NULL when p_e = 1 (both gates constant —
    0/0 by convention).

    Scale: the Gopher side is map-only; the percentile side is the
    bounded quality-slab gate; one doc_id equi-join + ONE 1-row
    conditional aggregate. Composition of verified pieces, like
    doc_curation_pipeline."""
    g = q_doc_gopher_quality(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("_a")
    )
    qf = q_doc_quality_filter(spark, sf_dir).select(
        "doc_id", F.lit(True).alias("_b")
    )
    j = g.join(qf, "doc_id", "left").select(
        "_a", F.coalesce(F.col("_b"), F.lit(False)).alias("_b")
    )
    cell = lambda pa, pb: F.sum(  # noqa: E731
        F.when((F.col("_a") == pa) & (F.col("_b") == pb), 1).otherwise(0)
    ).cast("long")
    m = j.agg(
        cell(True, True).alias("n_both_keep"),
        cell(True, False).alias("n_gopher_only"),
        cell(False, True).alias("n_quality_only"),
        cell(False, False).alias("n_both_drop"),
    )
    a = F.col("n_both_keep").cast("double")
    b = F.col("n_gopher_only").cast("double")
    c = F.col("n_quality_only").cast("double")
    d = F.col("n_both_drop").cast("double")
    n = a + b + c + d
    po = (a + d) / n
    pe = ((a + b) * (a + c) + (c + d) * (b + d)) / (n * n)
    return m.select(
        (F.col("n_both_keep") + F.col("n_gopher_only")
         + F.col("n_quality_only") + F.col("n_both_drop")).alias("n_docs"),
        "n_both_keep",
        "n_gopher_only",
        "n_quality_only",
        "n_both_drop",
        round6(po).alias("agreement"),
        F.when(pe != F.lit(1.0), round6((po - pe) / (F.lit(1.0) - pe))).alias(
            "kappa"
        ),
    )


def _sql_gate_agreement() -> str:
    a = "CAST(n_both_keep AS DOUBLE)"
    b = "CAST(n_gopher_only AS DOUBLE)"
    c = "CAST(n_quality_only AS DOUBLE)"
    d = "CAST(n_both_drop AS DOUBLE)"
    n = f"({a} + {b} + {c} + {d})"
    po = f"(({a} + {d}) / {n})"
    pe = (
        f"((({a} + {b}) * ({a} + {c}) + ({c} + {d}) * ({b} + {d}))"
        f" / ({n} * {n}))"
    )
    return f"""
WITH gq AS ({_sql_gopher_quality()}),
qf AS ({_sql_quality_filter()}),
j AS (
  SELECT gq.keep AS a, qf.doc_id IS NOT NULL AS b
  FROM gq LEFT JOIN qf ON qf.doc_id = gq.doc_id
),
m AS (
  SELECT
    CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n_both_keep,
    CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_only,
    CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_only,
    CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n_both_drop
  FROM j
)
SELECT CAST(n_both_keep + n_gopher_only + n_quality_only + n_both_drop AS BIGINT)
         AS n_docs,
       n_both_keep, n_gopher_only, n_quality_only, n_both_drop,
       {SQL_ROUND6.format(x=po)} AS agreement,
       CASE WHEN {pe} <> 1.0
            THEN {SQL_ROUND6.format(x=f'({po} - {pe}) / (1.0 - {pe})')}
       END AS kappa
FROM m
"""


# --------------------------------------------------------------------------
# r11 additions, batch 2: survival / resampling / multi-criteria / spatial
# --------------------------------------------------------------------------

#: Benford's-law expected first-digit shares log10(1 + 1/d), d = 1..9.
#: Hard-coded full-precision doubles (computed once offline) so NEITHER
#: engine evaluates log10 at query time — constant parity by construction.
BENFORD_SHARES = (
    0.3010299956639812,
    0.17609125905568124,
    0.12493873660829992,
    0.09691001300805642,
    0.07918124604762482,
    0.06694678963061322,
    0.05799194697768673,
    0.05115252244738129,
    0.04575749056067514,
)


def q_order_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENFORD first-digit audit per order priority — the classic
    forensic-accounting / data-quality test: natural multi-scale
    monetary amounts follow P(d) = log10(1+1/d); a fabricated or
    truncated feed does not. Reports the observed vs expected share per
    digit and the per-priority chi-square distance (9-1 df).

    Determinism: the first digit is extracted from the DECIMAL STRING
    of the integer cent amount (substr of CAST(bigint AS string) —
    pure integer/string ops, no log10 at query time; the expected
    shares are hard-coded constants). The chi-square fold is a 9-term
    decimal-cast sum over a bounded per-priority slab. Digits absent
    from a priority are zero-filled from a dense |priorities|×9 frame
    so the chi-square always has all 9 terms.

    Scale: one fact pass to (priority, digit) cells (≤ 5×9 rows), a
    broadcast dense frame, and windows over the 9-row slabs — nothing
    downstream of the first aggregate touches fact cardinality."""
    od = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast(
        "long"
    )
    digit = F.substring(cents.cast("string"), 1, 1).cast("long")
    cells = (
        od.select(F.col("o_orderpriority"), digit.alias("digit"))
        .groupBy("o_orderpriority", "digit")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    frame = (
        od.select("o_orderpriority")
        .distinct()
        .crossJoin(
            F.broadcast(
                spark.range(1).select(
                    F.explode(F.sequence(F.lit(1), F.lit(9))).alias("digit")
                )
            )
        )
    )
    bshare = F.element_at(
        F.array(*[F.lit(c) for c in BENFORD_SHARES]),
        F.col("digit").cast("int"),
    )
    dense = (
        frame.join(cells, ["o_orderpriority", "digit"], "left")
        .select(
            "o_orderpriority",
            "digit",
            F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n"),
            bshare.alias("_e"),
        )
    )
    from pyspark.sql import Window

    wp = Window.partitionBy("o_orderpriority")
    tot = dense.withColumn("_tot", F.sum("n").over(wp))
    exp_n = F.col("_tot").cast("double") * F.col("_e")
    term = (F.col("n").cast("double") - exp_n) * (
        F.col("n").cast("double") - exp_n
    ) / exp_n
    return tot.select(
        "o_orderpriority",
        "digit",
        "n",
        round6(F.col("n").cast("double") / F.col("_tot").cast("double")).alias(
            "obs_share"
        ),
        round6(F.col("_e")).alias("benford_share"),
        round6(
            F.sum(dec(term)).over(wp).cast("double")
        ).alias("chi2"),
    )


def _sql_benford() -> str:
    bcase = " ".join(
        f"WHEN d.digit = {i + 1} THEN {c}"
        for i, c in enumerate(BENFORD_SHARES)
    )
    exp_n = "CAST(tot AS DOUBLE) * e"
    term = f"(CAST(n AS DOUBLE) - {exp_n}) * (CAST(n AS DOUBLE) - {exp_n}) / ({exp_n})"
    return f"""
WITH cells AS (
  SELECT o_orderpriority,
         CAST(substr(CAST(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
                          AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         COUNT(*) AS n
  FROM orders GROUP BY 1, 2
),
frame AS (
  SELECT p.o_orderpriority, d.digit, CASE {bcase} END AS e
  FROM (SELECT DISTINCT o_orderpriority FROM orders) p
  CROSS JOIN (SELECT unnest(range(1, 10)) AS digit) d
),
dense AS (
  SELECT f.o_orderpriority, f.digit,
         CAST(COALESCE(c.n, 0) AS BIGINT) AS n, f.e
  FROM frame f
  LEFT JOIN cells c
    ON c.o_orderpriority = f.o_orderpriority AND c.digit = f.digit
),
tot AS (
  SELECT *, SUM(n) OVER (PARTITION BY o_orderpriority) AS tot FROM dense
)
SELECT o_orderpriority, digit, n,
       {SQL_ROUND6.format(x="CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)")}
         AS obs_share,
       {SQL_ROUND6.format(x="e")} AS benford_share,
       {SQL_ROUND6.format(
           x=f"CAST(CAST(SUM(CAST({term} AS {STABLE_DECIMAL})) OVER "
             f"(PARTITION BY o_orderpriority) AS VARCHAR) AS DOUBLE)"
       )} AS chi2
FROM tot
"""


def q_event_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JENSEN-SHANNON drift of the event-TYPE mix between the two time
    halves — the symmetric, bounded ([0,1] bit) companion to the PSI
    (which scores VALUE distributions) and the chi-square token drift:
    JSD(P‖Q) = ½·KL(P‖M) + ½·KL(Q‖M), M = (P+Q)/2, reported as the
    per-type contribution so the drifting types are directly ranked.

    Determinism: integer midpoint split (:func:`_midpoint`), shares
    over exact counts, log2 on identical IEEE doubles, per-type term
    emitted directly (no cross-row sum order to pin — each
    contribution is ≥ 0 by the log-sum inequality, so the portable
    floor-round applies).

    Scale: ONE fact pass to |types| cells; the half totals ride a
    broadcast 1-row aggregate; everything after the first hash
    aggregate is map-side arithmetic on a bounded slab."""
    ev = load_table(spark, sf_dir, "events")
    cells = _half_counts(_halves(ev), "event_type").select(
        "event_type",
        F.col("_ca").alias("n_first"),
        F.col("_cb").alias("n_second"),
    )
    tots = cells.agg(
        F.sum("n_first").alias("_na"), F.sum("n_second").alias("_nb")
    )
    p = F.col("n_first").cast("double") / F.col("_na").cast("double")
    q = F.col("n_second").cast("double") / F.col("_nb").cast("double")
    m = (p + q) / F.lit(2.0)
    term = (
        F.when(F.col("n_first") > 0, p * F.log2(p / m)).otherwise(F.lit(0.0))
        + F.when(F.col("n_second") > 0, q * F.log2(q / m)).otherwise(
            F.lit(0.0)
        )
    ) / F.lit(2.0)
    return (
        cells.crossJoin(F.broadcast(tots))
        .where((F.col("_na") > 0) & (F.col("_nb") > 0))
        .select(
            "event_type",
            "n_first",
            "n_second",
            round6(p).alias("p_share"),
            round6(q).alias("q_share"),
            round6(term).alias("jsd_term_bits"),
        )
    )


SQL_JS_DIVERGENCE = f"""
WITH {_sql_halves(value=False)},
cells AS (SELECT event_type, {_SQL_HALF_COUNTS} FROM sided GROUP BY 1),
tots AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM cells)
SELECT event_type, ca AS n_first, cb AS n_second,
       {SQL_ROUND6.format(x="p")} AS p_share,
       {SQL_ROUND6.format(x="q")} AS q_share,
       {SQL_ROUND6.format(
           x="(CASE WHEN ca > 0 THEN p * log2(p / ((p + q) / 2.0))"
             " ELSE 0.0 END"
             " + CASE WHEN cb > 0 THEN q * log2(q / ((p + q) / 2.0))"
             " ELSE 0.0 END) / 2.0"
       )} AS jsd_term_bits
FROM (
  SELECT event_type, ca, cb,
         CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) AS p,
         CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE) AS q
  FROM cells CROSS JOIN tots
  WHERE na > 0 AND nb > 0
) s
"""


#: Administrative-censoring horizon for the survival query: a user whose
#: last event falls within 7 days of the corpus end is CENSORED (still
#: alive at the observation boundary), not churned.
KM_CENSOR_US = 7 * 24 * 3600 * 1_000_000


def q_user_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER survival curve over user lifetimes — the standard
    product-limit estimator every retention/churn analysis reports:
    S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ) with right-censoring. Lifetime =
    whole hours between a user's first and last event; a user whose
    last event lands within KM_CENSOR_US of the corpus end is censored
    (the study ended, not the user). Output is the life table: at-risk
    count, deaths, censorings and the survival estimate per distinct
    duration.

    Determinism: durations and the censor flag are pure integer
    arithmetic; the product rides exp(Σ ln(1−dᵢ/nᵢ)) with the ln terms
    decimal-cast inside an ORDERED cumulative window (defined addition
    order AND defined decimal truncation — doubly pinned); a cummax
    flag forces survival to exactly 0 from the first duration where
    the whole risk set dies (so ln(0) is never evaluated).

    Scale: one shuffle to per-user (first, last), one hash aggregate to
    the life table — |distinct durations| rows, bounded by the corpus
    time span in hours — and the cumulative windows run on that
    bounded slab (documented single-partition window over the life
    table, not the fact)."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts_us").alias("_first"), F.max("ts_us").alias("_last")
    )
    horizon = per_user.agg(F.max("_last").alias("_tmax"))
    lifet = per_user.crossJoin(F.broadcast(horizon)).select(
        F.expr("(_last - _first) div 3600000000").alias("duration_h"),
        F.when(
            F.col("_last") <= F.col("_tmax") - F.lit(KM_CENSOR_US), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("_e"),
    )
    km = lifet.groupBy("duration_h").agg(
        F.sum("_e").cast("long").alias("n_death"),
        F.sum(F.lit(1) - F.col("_e")).cast("long").alias("n_censor"),
    )
    n_total = km.agg(
        F.sum(F.col("n_death") + F.col("n_censor")).alias("_n")
    )
    from pyspark.sql import Window

    w_prev = Window.orderBy("duration_h").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_curr = Window.orderBy("duration_h").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    staged = (
        km.crossJoin(F.broadcast(n_total))
        .withColumn(
            "n_risk",
            (
                F.col("_n")
                - F.coalesce(
                    F.sum(F.col("n_death") + F.col("n_censor")).over(w_prev),
                    F.lit(0),
                )
            ).cast("long"),
        )
        .withColumn(
            "_term",
            F.when(
                (F.col("n_death") > 0) & (F.col("n_death") < F.col("n_risk")),
                F.log(
                    F.lit(1.0)
                    - F.col("n_death").cast("double")
                    / F.col("n_risk").cast("double")
                ),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "_dead",
            F.max(
                F.when(F.col("n_death") >= F.col("n_risk"), 1).otherwise(0)
            ).over(w_curr),
        )
        .withColumn("_cumln", F.sum(dec("_term")).over(w_curr))
    )
    return staged.select(
        "duration_h",
        "n_risk",
        "n_death",
        "n_censor",
        F.when(F.col("_dead") == 1, F.lit(0.0))
        .otherwise(round6(F.exp(F.col("_cumln").cast("double"))))
        .alias("survival"),
    )


SQL_KAPLAN_MEIER = f"""
WITH per_user AS (
  SELECT user_id, MIN(epoch_us(ts)) AS f, MAX(epoch_us(ts)) AS l
  FROM events GROUP BY user_id
),
horizon AS (SELECT MAX(l) AS tmax FROM per_user),
lifet AS (
  SELECT (l - f) // 3600000000 AS duration_h,
         CASE WHEN l <= horizon.tmax - {KM_CENSOR_US} THEN 1 ELSE 0 END AS e
  FROM per_user CROSS JOIN horizon
),
km AS (
  SELECT duration_h,
         CAST(SUM(e) AS BIGINT) AS n_death,
         CAST(SUM(1 - e) AS BIGINT) AS n_censor
  FROM lifet GROUP BY duration_h
),
tot AS (SELECT SUM(n_death + n_censor) AS n FROM km),
staged AS (
  SELECT duration_h, n_death, n_censor,
         CAST(tot.n - COALESCE(SUM(n_death + n_censor) OVER
           (ORDER BY duration_h ROWS BETWEEN UNBOUNDED PRECEDING
            AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
  FROM km CROSS JOIN tot
),
folded AS (
  SELECT duration_h, n_risk, n_death, n_censor,
         MAX(CASE WHEN n_death >= n_risk THEN 1 ELSE 0 END) OVER w AS dead,
         SUM(CAST(CASE WHEN n_death > 0 AND n_death < n_risk
                  THEN ln(1.0 - CAST(n_death AS DOUBLE)
                                / CAST(n_risk AS DOUBLE))
                  ELSE 0.0 END AS {STABLE_DECIMAL})) OVER w AS cumln
  FROM staged
  WINDOW w AS (ORDER BY duration_h ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
)
SELECT duration_h, n_risk, n_death, n_censor,
       CASE WHEN dead = 1 THEN 0.0
            ELSE {SQL_ROUND6.format(
                x="exp(CAST(CAST(cumln AS VARCHAR) AS DOUBLE))"
            )}
       END AS survival
FROM folded
"""


#: Poisson(1) cumulative probabilities P(X <= k), k = 0..8 — the
#: inverse-CDF thresholds for the hash-deterministic bootstrap weights.
#: Hard-coded full-precision doubles so neither engine evaluates exp/
#: factorial at query time; the tail above k = 8 (mass < 1.2e-6) caps
#: at weight 9.
POISSON1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
    0.9999897508033253,
    0.999998874797402,
)

#: Bootstrap replicate count (kept a power of two so the p05/p95 ranks
#: land on exact order statistics of the replicate slab).
BOOT_REPS = 32

#: Per-replicate uniform derivation (r12, the r11 VERDICT #7 trim):
#: ONE md5 per fact row (``portable_hash(event_id)``) instead of one
#: per (row, replicate); replicate b's uniform comes from a murmur3
#: fmix32 avalanche of ``h + b·golden`` — pure int64 arithmetic both
#: engines evaluate identically, with every 32-bit wrapping multiply
#: split into 16-bit halves so no intermediate exceeds 2^49 (Spark 4
#: ANSI and DuckDB both RAISE on int64 overflow; hex-masked wrap is
#: not portable, bounded splits are). fmix32 is a bijection with full
#: avalanche, so replicate streams decorrelate the way the per-
#: replicate md5 did — the replicate hash needs uniformity, not
#: collision resistance. Measured at sf0.1: the md5 ladder was the
#: dominant term of the replicate pass (see OPTIMIZATION_r12.md).
MIX_GOLDEN = 2654435761  # 2^32 / golden ratio, odd
_FMIX_C1_HI, _FMIX_C1_LO = divmod(0x85EBCA6B, 65536)
_FMIX_C2_HI, _FMIX_C2_LO = divmod(0xC2B2AE35, 65536)


def _mix32(x, mult_hi: int, mult_lo: int):
    """(x * m) mod 2^32 for 0 <= x < 2^32 via 16-bit split products."""
    return (
        x * F.lit(mult_lo)
        + ((x * F.lit(mult_hi)) % F.lit(65536)) * F.lit(65536)
    ) % F.lit(4294967296)


def _shr_xor(x, pow2: int):
    """x XOR (x >> log2(pow2)) for non-negative x, via exact floor-div
    (both engines; no shift operators needed)."""
    return x.bitwiseXOR(F.floor(x / F.lit(pow2)).cast("long"))


def mix32_uniform(h, b):
    """Replicate-b uniform in [0, 1) from the per-row 32-bit hash
    ``h``: u = fmix32((h + b·MIX_GOLDEN) mod 2^32) / 2^32."""
    x = (h + b.cast("long") * F.lit(MIX_GOLDEN)) % F.lit(4294967296)
    x = _shr_xor(x, 65536)
    x = _mix32(x, _FMIX_C1_HI, _FMIX_C1_LO)
    x = _shr_xor(x, 8192)
    x = _mix32(x, _FMIX_C2_HI, _FMIX_C2_LO)
    x = _shr_xor(x, 65536)
    return x.cast("double") / F.lit(4294967296.0)


def q_event_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON BOOTSTRAP confidence interval for the per-type mean —
    THE distributed bootstrap (Chamandy et al., "Estimating Uncertainty
    for Massive Data Streams", Google 2012): instead of resampling n
    rows with replacement (which needs global coordination), every row
    independently draws a Poisson(1) multiplicity per replicate, which
    converges to multinomial resampling and needs only ONE pass over
    the fact. Reports the point mean and the p05/p95 of the
    BOOT_REPS replicate means per event type.

    Determinism: the multiplicity is the Poisson(1) inverse CDF at
    u = fmix32(portable_hash(event_id) + b·golden) / 2³² — ONE
    md5-derived 32-bit hash per fact row, avalanche-mixed per
    replicate with pure int64 arithmetic both engines evaluate
    identically (see :func:`mix32_uniform`; the r12 rewrite of the
    per-(row, replicate) md5, which was the replicate pass's dominant
    cost) — against hard-coded CDF constants; replicate sums are exact
    int64 grid sums (functions.gridsum, r12 — w·value is a 2-dp grid
    value, so the split-sum equals the old decimal-cast sum bit-for-bit
    without the per-(row, replicate) decimal cast that dominated after
    the md5 fix); the percentile picks exact order statistics (integer
    ceil ranks) with the replicate id as the tie breaker.

    Scale: the ×BOOT_REPS expansion is map-side (explode straight into
    a partial aggregate — never materialized) and collapses to
    |types|×BOOT_REPS cells in the same shuffle that the plain mean
    would need; the percentile window runs on the bounded replicate
    slab."""
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("event_type", "event_id", "value")
    )
    point = ev.groupBy("event_type").agg(
        F.count("value").alias("n"),
        # exact grid sum / count == stable_avg bit-for-bit (value is a
        # 2-dp grid column; r12, see functions.gridsum)
        (grid_sum(F.col("value"), 2) / F.count("value")).alias("_mean"),
    )
    # ONE md5 per fact row, projected BELOW the explode so the
    # Generate replicates the finished 32-bit value instead of
    # re-hashing per replicate (r12; the old per-(row, b) md5 was the
    # replicate pass's dominant cost).
    hashed = ev.select(
        "event_type",
        "value",
        TX.portable_hash(F.col("event_id").cast("string")).alias("_h"),
    )
    rep = hashed.select(
        "event_type",
        "value",
        "_h",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_REPS - 1))).alias("b"),
    )
    # Stage u as a projected column BEFORE the inverse-CDF ladder: the
    # 10 CASE branches each reference u, and Catalyst does not
    # subexpression-share across WHEN arms, so an inline u re-runs the
    # whole mix chain up to 10x per row (measured 10.2 s -> 3.6 s at
    # sf0.1 back when u was the md5; same staging logic applies).
    staged_u = rep.select(
        "event_type",
        "b",
        "value",
        mix32_uniform(F.col("_h"), F.col("b")).alias("_u"),
    )
    w = F.lit(9)
    for k in range(len(POISSON1_CDF) - 1, -1, -1):
        w = F.when(
            F.col("_u") < F.lit(POISSON1_CDF[k]), F.lit(k)
        ).otherwise(w)
    cells = (
        staged_u.select("event_type", "b", w.alias("_w"), "value")
        .groupBy("event_type", "b")
        .agg(
            F.sum("_w").alias("_sw"),
            # _w is a small int and value a 2-dp grid column, so _w·value
            # is a 2-dp grid value: the int64 grid sum replaces the
            # decimal cast that dominated the ×BOOT_REPS replicate pass
            # (r12; bit-identical, re-proven by the unchanged oracle)
            grid_sum_dec(F.col("_w") * F.col("value"), 2).alias("_swv"),
        )
        .where(F.col("_sw") > 0)
        .select(
            "event_type",
            "b",
            (F.col("_swv").cast("double") / F.col("_sw").cast("double")).alias(
                "_bm"
            ),
        )
    )
    from pyspark.sql import Window

    wt = Window.partitionBy("event_type")
    ranked = cells.withColumn(
        "_rk",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("_bm", "b")
        ),
    ).withColumn("_nb", F.count(F.lit(1)).over(wt))
    lo_rk = F.expr("(_nb + 19) div 20")
    hi_rk = F.expr("(19 * _nb + 19) div 20")
    boots = ranked.groupBy("event_type").agg(
        F.max("_nb").cast("long").alias("n_reps"),
        F.min(F.when(F.col("_rk") == lo_rk, F.col("_bm"))).alias("_lo"),
        F.min(F.when(F.col("_rk") == hi_rk, F.col("_bm"))).alias("_hi"),
    )
    return point.join(F.broadcast(boots), "event_type").select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        "n_reps",
        round6(F.col("_mean")).alias("mean_value"),
        round6(F.col("_lo")).alias("boot_p05"),
        round6(F.col("_hi")).alias("boot_p95"),
    )


def _sql_poisson_bootstrap() -> str:
    h = _PORTABLE_HASH.format(s="CAST(event_id AS VARCHAR)")
    ladder = " ".join(
        f"WHEN u < {c} THEN {k}" for k, c in enumerate(POISSON1_CDF)
    )
    # fmix32 mix chain, step-per-CTE — the EXACT integer expressions of
    # mix32_uniform (16-bit-split wrapping multiplies, floor-div shifts)
    m1 = f"(x1 * {_FMIX_C1_LO} + ((x1 * {_FMIX_C1_HI}) % 65536) * 65536) % 4294967296"
    m2 = f"(x3 * {_FMIX_C2_LO} + ((x3 * {_FMIX_C2_HI}) % 65536) * 65536) % 4294967296"
    return f"""
WITH ev AS (
  SELECT event_type, event_id, value FROM events WHERE value IS NOT NULL
),
point AS (
  SELECT event_type, CAST(COUNT(value) AS BIGINT) AS n,
         {_savg('value', 'COUNT(value)')} AS mean_raw
  FROM ev GROUP BY event_type
),
hashed AS (
  SELECT event_type, value, {h} AS h FROM ev
),
rep AS (
  SELECT event_type, value, (h + b * {MIX_GOLDEN}) % 4294967296 AS x0, b
  FROM hashed CROSS JOIN (SELECT unnest(range(0, {BOOT_REPS})) AS b)
),
mx1 AS (SELECT event_type, value, b, xor(x0, x0 // 65536) AS x1 FROM rep),
mx2 AS (SELECT event_type, value, b, {m1} AS x2 FROM mx1),
mx3 AS (SELECT event_type, value, b, xor(x2, x2 // 8192) AS x3 FROM mx2),
mx4 AS (SELECT event_type, value, b, {m2} AS x4 FROM mx3),
mx5 AS (
  SELECT event_type, value, b,
         CAST(xor(x4, x4 // 65536) AS DOUBLE) / 4294967296.0 AS u
  FROM mx4
),
weighted AS (
  SELECT event_type, b, CASE {ladder} ELSE 9 END AS w, value FROM mx5
),
cells AS (
  SELECT event_type, b,
         {_ssum('w * value')} / CAST(SUM(w) AS DOUBLE) AS bm
  FROM weighted GROUP BY event_type, b
  HAVING SUM(w) > 0
),
ranked AS (
  SELECT event_type, bm,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY bm, b) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS nb
  FROM cells
),
boots AS (
  SELECT event_type, CAST(MAX(nb) AS BIGINT) AS n_reps,
         MIN(CASE WHEN rk = (nb + 19) // 20 THEN bm END) AS lo,
         MIN(CASE WHEN rk = (19 * nb + 19) // 20 THEN bm END) AS hi
  FROM ranked GROUP BY event_type
)
SELECT p.event_type, p.n, b.n_reps,
       {SQL_ROUND6.format(x="p.mean_raw")} AS mean_value,
       {SQL_ROUND6.format(x="b.lo")} AS boot_p05,
       {SQL_ROUND6.format(x="b.hi")} AS boot_p95
FROM point p JOIN boots b ON b.event_type = p.event_type
"""


def q_part_price_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE (Pareto frontier) of parts under minimise-(price, size)
    — the multi-criteria operator of Borzsony/Kossmann/Stocker (ICDE
    2001): every part for which no other part is at least as cheap AND
    at least as small with one strict improvement. No single ORDER BY
    expresses this; it is the canonical "best trade-offs" query.

    Spark shape (operators/skyline.py): per-x MIN(y) hash reduce →
    bucket-local strict-cummin prune (parallel) → global cummin sweep
    over the few survivors (bounded candidate slab) → broadcast join
    back to list every part on a frontier point. The oracle is the
    textbook brute-force NOT EXISTS dominance anti-join (DuckDB's
    IEJoin handles the two-inequality correlation).

    Determinism: dominance is pure comparison on stored doubles/ints —
    no arithmetic at all — so both engines see identical frontiers."""
    from .operators.skyline import skyline_points_2d

    part = load_table(spark, sf_dir, "part")
    sky = skyline_points_2d(part.select("p_retailprice", "p_size"))
    return part.join(
        F.broadcast(sky), ["p_retailprice", "p_size"]
    ).select("p_partkey", "p_brand", "p_retailprice", "p_size")


SQL_PART_SKYLINE = """
SELECT p.p_partkey, p.p_brand, p.p_retailprice, p.p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice
    AND q.p_size <= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size < p.p_size)
)
"""


#: Morton-grid resolution: 2^10 cells per axis over the narrow bbox.
MORTON_BITS = 10


def _morton_terms(xi: str, yi: str, div: str) -> str:
    """Interleaved Z-order code as pure integer arithmetic, identical
    in both engines up to the integer-division spelling (`div`/`//`):
    lon bits land on even positions, lat bits on odd."""
    terms = []
    for i in range(MORTON_BITS):
        terms.append(f"(({xi} {div} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"(({yi} {div} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


def q_geo_morton_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER (Morton) spatial density grid — geohash's integer core:
    interleave the bits of the quantized (lon, lat) so 2-D proximity
    becomes 1-D key locality, then count fixes per cell and rank the
    top 100 hotspots. The same curve is what big-table layouts cluster
    on (Delta OPTIMIZE ZORDER, Hudi space-filling-curve sort): at
    100 TB the cell code doubles as the repartitionByRange key that
    co-locates neighbouring traffic without a geometry library.

    Determinism: quantization is floor((coord−min)/range·2^bits)
    clamped to the last cell — identical IEEE double ops on identical
    synthetic coordinates — and the interleave is pure integer
    div/mod/add, generated from ONE Python template for both engines.

    Scale: map-side integer math → ONE hash aggregate over ≤ 4^bits
    cells → broadcast total for the share → TakeOrdered top-100."""
    bbox = KYIV_BBOX_NARROW
    n = 1 << MORTON_BITS
    pos = _geo_positions(spark, sf_dir).where(
        in_bbox(F.col("lat"), F.col("lon"), bbox)
    )
    xi = F.least(
        F.floor(
            (F.col("lon") - F.lit(bbox.lon_min))
            / F.lit(bbox.lon_max - bbox.lon_min)
            * F.lit(float(n))
        ).cast("long"),
        F.lit(n - 1),
    )
    yi = F.least(
        F.floor(
            (F.col("lat") - F.lit(bbox.lat_min))
            / F.lit(bbox.lat_max - bbox.lat_min)
            * F.lit(float(n))
        ).cast("long"),
        F.lit(n - 1),
    )
    cells = (
        pos.select(xi.alias("_xi"), yi.alias("_yi"))
        .select(
            "_xi",
            "_yi",
            F.expr(_morton_terms("_xi", "_yi", "div")).alias("cell"),
        )
        .groupBy("cell", "_xi", "_yi")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cells.agg(F.sum("n").alias("_tot"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            F.col("cell").cast("long").alias("cell"),
            F.col("_xi").cast("long").alias("cell_x"),
            F.col("_yi").cast("long").alias("cell_y"),
            F.col("n").cast("long").alias("n"),
            round6(
                F.col("n").cast("double") / F.col("_tot").cast("double")
            ).alias("share"),
        )
        .orderBy(F.col("n").desc(), F.col("cell").asc())
        .limit(100)
    )


def _sql_morton_density() -> str:
    bbox = KYIV_BBOX_NARROW
    n = 1 << MORTON_BITS
    xi = (
        f"LEAST(CAST(floor((lon - {bbox.lon_min}) / "
        f"{bbox.lon_max - bbox.lon_min} * {float(n)}) AS BIGINT), {n - 1})"
    )
    yi = (
        f"LEAST(CAST(floor((lat - {bbox.lat_min}) / "
        f"{bbox.lat_max - bbox.lat_min} * {float(n)}) AS BIGINT), {n - 1})"
    )
    return f"""
WITH pos AS ({_GEO_POS_SQL}),
filt AS (
  SELECT {xi} AS xi, {yi} AS yi FROM pos
  WHERE lat BETWEEN {bbox.lat_min} AND {bbox.lat_max}
    AND lon BETWEEN {bbox.lon_min} AND {bbox.lon_max}
),
cells AS (
  SELECT {_morton_terms('xi', 'yi', '//')} AS cell, xi, yi, COUNT(*) AS n
  FROM filt GROUP BY 1, 2, 3
),
tot AS (SELECT SUM(n) AS t FROM cells)
SELECT CAST(cell AS BIGINT) AS cell,
       CAST(xi AS BIGINT) AS cell_x,
       CAST(yi AS BIGINT) AS cell_y,
       CAST(n AS BIGINT) AS n,
       {SQL_ROUND6.format(x="CAST(n AS DOUBLE) / CAST(t AS DOUBLE)")}
         AS share
FROM cells CROSS JOIN tot
ORDER BY n DESC, cell ASC
LIMIT 100
"""


def q_event_trend_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL-SEN slope + MANN-KENDALL trend test per event type over the
    hourly count series — the robust, distribution-free trend pack
    (hydrology/monitoring standard): the Sen slope is the MEDIAN of all
    pairwise slopes (a single corrupted hour moves an OLS slope
    arbitrarily, moves the median not at all), and the MK statistic
    S = Σ sign(c_j − c_i) with the tie-corrected normal approximation
    gives the significance. Complements CUSUM (WHERE did it shift) with
    IS there a monotone trend and HOW steEP.

    Determinism: the hourly grid is integer; pairwise slopes are one
    IEEE divide each; the median picks an exact order statistic (lower
    median, ties broken by the pair's hour coordinates); S and the tie
    correction are pure integer arithmetic; z's sqrt runs on the same
    integer-derived double in both engines.

    Scale: the fact collapses to the (type, hour) grid in ONE pass; the
    pairwise self-join runs on that BOUNDED slab (≤ span-in-hours rows
    per type — 720 here — so ≤ h(h−1)/2 pairs per type, INDEPENDENT of
    corpus row count: 100× the events is the same 259k pairs)."""
    from .operators.staging import stage

    ev = load_table(spark, sf_dir, "events")
    # STAGED (r12): the bounded (type, hour) grid feeds BOTH sides of
    # the pairwise self-join AND the ties aggregate — un-staged,
    # Catalyst re-derived the fact scan + hash aggregate three times
    # (the before plan shows three parquet scans of events). One fact
    # pass, then every consumer reads the ≤ types×span slab.
    cells = (
        ev.select(
            "event_type", F.expr("ts_us div 3600000000").alias("_h")
        )
        .groupBy("event_type", "_h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .transform(stage)
    )
    a, b = cells.alias("a"), cells.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("b._h") > F.col("a._h")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a._h").alias("_h1"),
        F.col("b._h").alias("_h2"),
        (
            (F.col("b._c") - F.col("a._c")).cast("double")
            / (F.col("b._h") - F.col("a._h")).cast("double")
        ).alias("_slope"),
        F.signum((F.col("b._c") - F.col("a._c")).cast("double"))
        .cast("long")
        .alias("_sgn"),
    )
    from pyspark.sql import Window

    wt = Window.partitionBy("event_type")
    ranked = pairs.withColumn(
        "_rk",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("_slope", "_h1", "_h2")
        ),
    ).withColumn("_np", F.count(F.lit(1)).over(wt))
    per_pairs = ranked.groupBy("event_type").agg(
        F.max("_np").cast("long").alias("n_pairs"),
        F.sum("_sgn").cast("long").alias("mk_s"),
        F.min(
            F.when(F.col("_rk") == F.expr("(_np + 1) div 2"), F.col("_slope"))
        ).alias("_sen"),
    )
    ties = (
        cells.groupBy("event_type", "_c")
        .agg(F.count(F.lit(1)).alias("_tj"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("_tj")
                * (F.col("_tj") - 1)
                * (2 * F.col("_tj") + 5)
            ).alias("_tie18"),
            F.sum("_tj").cast("long").alias("n_hours"),
        )
    )
    n = F.col("n_hours")
    var18 = (n * (n - 1) * (2 * n + 5) - F.col("_tie18")).cast("double")
    s = F.col("mk_s").cast("double")
    z = F.when(var18 <= 0, F.lit(0.0)).otherwise(
        F.when(s > 0, (s - 1) / F.sqrt(var18 / F.lit(18.0)))
        .when(s < 0, (s + 1) / F.sqrt(var18 / F.lit(18.0)))
        .otherwise(F.lit(0.0))
    )
    return per_pairs.join(F.broadcast(ties), "event_type").select(
        "event_type",
        "n_hours",
        "n_pairs",
        round6(F.col("_sen")).alias("sen_slope"),
        "mk_s",
        round6(z).alias("mk_z"),
    )


SQL_TREND_ROBUST = f"""
WITH cells AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h, COUNT(*) AS c
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT a.event_type,
         CAST(b.c - a.c AS DOUBLE) / CAST(b.h - a.h AS DOUBLE) AS slope,
         CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END AS sgn,
         a.h AS h1, b.h AS h2
  FROM cells a JOIN cells b
    ON b.event_type = a.event_type AND b.h > a.h
),
ranked AS (
  SELECT event_type, slope, sgn,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY slope, h1, h2) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS np
  FROM pairs
),
per_pairs AS (
  SELECT event_type,
         CAST(MAX(np) AS BIGINT) AS n_pairs,
         CAST(SUM(sgn) AS BIGINT) AS mk_s,
         MIN(CASE WHEN rk = (np + 1) // 2 THEN slope END) AS sen
  FROM ranked GROUP BY event_type
),
ties AS (
  SELECT event_type,
         CAST(SUM(tj) AS BIGINT) AS n_hours,
         SUM(tj * (tj - 1) * (2 * tj + 5)) AS tie18
  FROM (SELECT event_type, c, COUNT(*) AS tj FROM cells GROUP BY 1, 2)
  GROUP BY event_type
),
joined AS (
  SELECT p.event_type, t.n_hours, p.n_pairs, p.sen, p.mk_s,
         CAST(t.n_hours * (t.n_hours - 1) * (2 * t.n_hours + 5)
              - t.tie18 AS DOUBLE) AS var18,
         CAST(p.mk_s AS DOUBLE) AS s
  FROM per_pairs p JOIN ties t ON t.event_type = p.event_type
)
SELECT event_type, n_hours, n_pairs,
       {SQL_ROUND6.format(x="sen")} AS sen_slope,
       mk_s,
       {SQL_ROUND6.format(
           x="CASE WHEN var18 <= 0 THEN 0.0"
             " WHEN s > 0 THEN (s - 1) / sqrt(var18 / 18.0)"
             " WHEN s < 0 THEN (s + 1) / sqrt(var18 / 18.0)"
             " ELSE 0.0 END"
       )} AS mk_z
FROM joined
"""


def q_doc_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LANGUAGE-BIAS AUC of the composite quality score — the
    calibration audit every multilingual curation pipeline needs: the
    C4-style score leans on an ENGLISH stopword list, so ranking the
    whole corpus by it silently up-weights English. This query
    measures that bias exactly: the ROC-AUC of the score separating
    English from non-English docs via the midrank identity
    AUC = (R₁ − n₁(n₁+1)/2)/(n₁n₀) (the Mann-Whitney U statistic) —
    0.5 = language-neutral, 1.0 = perfectly sorts English on top.
    Gini = 2·AUC − 1 is reported next to it.

    Determinism: scores are floor-rounded rationals; ranks are exact
    integer midranks over the (score) histogram slab (2·midrank stays
    integral: 2·cumprev + cnt + 1); the single final divide runs on
    integer-exact doubles.

    Scale: one map-side scoring pass (zero joins), then the AUC folds
    over the BOUNDED score histogram (≤ 10⁶+1 distinct 6-dp scores, in
    practice a few thousand). The rank sums ride decimal(38,0) so a
    trillion-doc corpus cannot overflow the integer rank arithmetic."""
    d = _docs_with_tokens(spark, sf_dir)
    staged = d.select(
        "doc_id",
        "lang",
        "text",
        TX.tokens(F.col("text")).alias("_tok"),
    )
    lab = staged.select(
        TX.quality_score(F.col("text"), tok=F.col("_tok")).alias("_score"),
        F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0)).alias(
            "_pos"
        ),
    )
    cells = lab.groupBy("_score").agg(
        F.sum("_pos").alias("_n1"), F.count(F.lit(1)).alias("_n")
    )
    from pyspark.sql import Window

    w_prev = Window.orderBy("_score").rowsBetween(
        Window.unboundedPreceding, -1
    )
    staged2 = cells.withColumn(
        "_cumprev", F.coalesce(F.sum("_n").over(w_prev), F.lit(0))
    )
    term = F.col("_n1") * (
        2 * F.col("_cumprev") + F.col("_n") + F.lit(1)
    )
    agg = staged2.agg(
        F.sum("_n1").cast("long").alias("n_pos"),
        F.sum(F.col("_n") - F.col("_n1")).cast("long").alias("n_neg"),
        F.count(F.lit(1)).cast("long").alias("n_scores"),
        F.sum(term.cast("decimal(38,0)")).alias("_r1x2"),
    )
    n1 = F.col("n_pos").cast("double")
    n0 = F.col("n_neg").cast("double")
    auc = (
        F.col("_r1x2").cast("double") - n1 * (n1 + 1)
    ) / (F.lit(2.0) * n1 * n0)
    return agg.select(
        "n_pos",
        "n_neg",
        "n_scores",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0), round6(auc)
        ).alias("auc"),
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            round6(F.lit(2.0) * auc - F.lit(1.0)),
        ).alias("gini"),
    )


def _sql_quality_auc() -> str:
    auc = "(CAST(r1x2 AS DOUBLE) - n1d * (n1d + 1)) / (2.0 * n1d * n0d)"
    return f"""
WITH toks AS (SELECT lang, text, {_TOKS} AS t FROM documents),
lab AS (
  SELECT {_sql_quality_expr()} AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM toks
),
cells AS (
  SELECT score, SUM(pos) AS n1, COUNT(*) AS n FROM lab GROUP BY score
),
cum AS (
  SELECT *,
         COALESCE(SUM(n) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED
                               PRECEDING AND 1 PRECEDING), 0) AS cumprev
  FROM cells
),
agg AS (
  SELECT CAST(SUM(n1) AS BIGINT) AS n_pos,
         CAST(SUM(n - n1) AS BIGINT) AS n_neg,
         CAST(COUNT(*) AS BIGINT) AS n_scores,
         SUM(CAST(n1 * (2 * cumprev + n + 1) AS DECIMAL(38,0))) AS r1x2
  FROM cum
)
SELECT n_pos, n_neg, n_scores,
       CASE WHEN n_pos > 0 AND n_neg > 0
            THEN {SQL_ROUND6.format(x="auc_v")} END AS auc,
       CASE WHEN n_pos > 0 AND n_neg > 0
            THEN {SQL_ROUND6.format(x="2.0 * auc_v - 1.0")} END AS gini
FROM (
  SELECT n_pos, n_neg, n_scores, {auc} AS auc_v
  FROM (
    SELECT n_pos, n_neg, n_scores, r1x2,
           CAST(n_pos AS DOUBLE) AS n1d, CAST(n_neg AS DOUBLE) AS n0d
    FROM agg
  ) x
) y
"""


def q_event_markov_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENTROPY RATE of the per-user behavior chain — the information-
    theoretic summary of the Markov transition matrix: per state i the
    conditional entropy H(next|i) = −Σⱼ p_ij·log2(p_ij) (how
    predictable is the next action from here), the stationary-empirical
    weight πᵢ, and the contribution πᵢ·H(next|i) whose total is the
    chain's entropy rate in bits/transition. Low-entropy states are
    bot-like; a sudden entropy-rate shift is a behavioral drift signal
    the count-based drift tests cannot see.

    Determinism: counts are exact integers from the same lag pairs the
    transition-matrix query uses; each per-state entropy is a ≤|types|-
    term decimal-cast sum of p·log2(p) on identical IEEE doubles;
    πᵢ rides a broadcast 1-row total.

    Scale: one per-user lag window (bounded history per user — the safe
    window axis) → |types|² cells; everything downstream is arithmetic
    on that bounded slab."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts_us", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").asc(), F.col("event_id").asc()
    )
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
        .select(F.col("event_type").alias("state"), "next_type")
    )
    m = pairs.groupBy("state", "next_type").agg(
        F.count(F.lit(1)).alias("_n")
    )
    row_n = F.sum("_n").over(Window.partitionBy("state"))
    p = F.col("_n").cast("double") / F.col("_row").cast("double")
    per_state = (
        m.withColumn("_row", row_n)
        .select("state", "_row", (-p * F.log2(p)).alias("_hterm"))
        .groupBy("state")
        .agg(
            F.max("_row").cast("long").alias("n_out"),
            stable_sum("_hterm").alias("_h"),
        )
    )
    tot = per_state.agg(F.sum("n_out").alias("_tot"))
    pi = F.col("n_out").cast("double") / F.col("_tot").cast("double")
    return per_state.crossJoin(F.broadcast(tot)).select(
        "state",
        "n_out",
        round6(pi).alias("pi"),
        round6(F.col("_h")).alias("h_bits"),
        round6(pi * F.col("_h")).alias("rate_term_bits"),
    )


SQL_MARKOV_ENTROPY = f"""
WITH seq AS (
  SELECT user_id, event_type AS state,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS next_type
  FROM events
),
m AS (
  SELECT state, next_type, COUNT(*) AS n FROM seq
  WHERE next_type IS NOT NULL GROUP BY 1, 2
),
rowed AS (
  SELECT state, n, SUM(n) OVER (PARTITION BY state) AS row_n FROM m
),
per_state AS (
  SELECT state, CAST(MAX(row_n) AS BIGINT) AS n_out,
         {_ssum(
             "-(CAST(n AS DOUBLE) / CAST(row_n AS DOUBLE))"
             " * log2(CAST(n AS DOUBLE) / CAST(row_n AS DOUBLE))"
         )} AS h
  FROM rowed GROUP BY state
),
tot AS (SELECT SUM(n_out) AS t FROM per_state)
SELECT state, n_out,
       {SQL_ROUND6.format(
           x="CAST(n_out AS DOUBLE) / CAST(t AS DOUBLE)"
       )} AS pi,
       {SQL_ROUND6.format(x="h")} AS h_bits,
       {SQL_ROUND6.format(
           x="(CAST(n_out AS DOUBLE) / CAST(t AS DOUBLE)) * h"
       )} AS rate_term_bits
FROM per_state CROSS JOIN tot
"""


#: Split-conformal miscoverage level: the interval targets 90% coverage.
CONFORMAL_ALPHA_NUM, CONFORMAL_ALPHA_DEN = 1, 10


def q_event_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT-CONFORMAL prediction interval per event type — the
    distribution-free uncertainty quantification every model-monitoring
    stack is adopting (Vovk et al.; Angelopoulos & Bates 2021): on the
    CALIBRATION half (first time half) fit the point predictor (exact
    discrete median) and take q̂ = the ⌈(n+1)(1−α)⌉-th smallest
    nonconformity score |v − med|; the interval med ± q̂ then covers a
    fresh point with probability ≥ 1−α by exchangeability — no
    distributional assumption. The TEST half (second time half) reports
    the realized coverage next to the guarantee.

    Determinism: integer midpoint split; both the median and q̂ are
    exact discrete order statistics via the histogram-slab operator
    (integer ceil rank ⌈(n+1)·9/10⌉ clamped to n); the score is one
    IEEE subtraction + abs; coverage is an exact count ratio.

    Scale: the chain is inherently sequential (median → scores → q̂ →
    coverage), and leaving it lazy makes Catalyst re-derive every
    upstream slab per consumer (8 fact scans measured). So the three
    BOUNDED intermediates ride the repo's driver-metadata convention
    (the kmeans-centroid pattern): the 1-row midpoint and the ≤|types|
    (med, n_cal) and q̂ tables are collected and re-enter as literal
    maps, giving exactly FOUR pruned fact passes — midpoint, median
    slab, score slab, test pass — the logical minimum for this op."""
    from pyspark.sql import Window

    from .operators.rank import quantile_disc_slab

    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
    )
    mid = _midpoint(ev).collect()[0][0]
    cal = ev.where(F.col("ts_us") <= F.lit(mid)).select(
        "event_type", "value"
    )
    med_rows = [] if mid is None else quantile_disc_slab(
        cal, "event_type", "value", [("med", 1, 2)], count_alias="n_cal"
    ).collect()
    if not med_rows:
        return ev.select(
            "event_type",
            F.lit(0).cast("long").alias("n_cal"),
            F.lit(0).cast("long").alias("n_test"),
            F.lit(0.0).alias("med"),
            F.lit(0.0).alias("qhat"),
            F.lit(0.0).alias("coverage"),
        ).limit(0)
    med_map = F.create_map(
        *[F.lit(x) for r in med_rows for x in (r["event_type"], r["med"])]
    )
    ncal_map = F.create_map(
        *[F.lit(x) for r in med_rows for x in (r["event_type"], r["n_cal"])]
    )
    scores = cal.select(
        "event_type",
        F.abs(F.col("value") - med_map[F.col("event_type")]).alias("_s"),
    )
    # rank ceil((n+1)*(1-alpha)) clamped to n, on the SCORE slab.
    sc = scores.groupBy("event_type", "_s").agg(
        F.count(F.lit(1)).alias("_c")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy(F.col("_s").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    num = CONFORMAL_ALPHA_DEN - CONFORMAL_ALPHA_NUM
    den = CONFORMAL_ALPHA_DEN
    staged = (
        sc.withColumn("_cm", F.sum("_c").over(wcum))
        .withColumn("_n", F.sum("_c").over(wall))
        .withColumn(
            "_rank",
            F.least(
                F.expr(f"(({num} * (_n + 1)) + {den} - 1) div {den}"),
                F.col("_n"),
            ),
        )
    )
    qhat_rows = (
        staged.groupBy("event_type")
        .agg(
            F.min(
                F.when(F.col("_cm") >= F.col("_rank"), F.col("_s"))
            ).alias("qhat")
        )
        .collect()
    )
    qhat_map = F.create_map(
        *[F.lit(x) for r in qhat_rows for x in (r["event_type"], r["qhat"])]
    )
    test = ev.where(F.col("ts_us") > F.lit(mid)).select(
        "event_type", "value"
    )
    med_c = med_map[F.col("event_type")]
    qhat_c = qhat_map[F.col("event_type")]
    return (
        test.where(med_c.isNotNull())
        .groupBy("event_type")
        .agg(
            F.max(ncal_map[F.col("event_type")]).cast("long").alias("n_cal"),
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.max(med_c).alias("med"),
            F.max(qhat_c).alias("qhat"),
            round6(
                F.count_if(
                    F.abs(F.col("value") - med_c) <= qhat_c
                ).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("coverage"),
        )
    )


def _sql_conformal_interval() -> str:
    num = CONFORMAL_ALPHA_DEN - CONFORMAL_ALPHA_NUM
    den = CONFORMAL_ALPHA_DEN
    med = _sql_quantile_disc(
        "(SELECT event_type AS g, value AS v FROM sided WHERE a = 1)",
        [("med", 1, 2)],
        "n_cal",
    )
    return f"""
WITH {_sql_halves()},
med AS ({med}),
s2 AS (
  SELECT g, s,
         SUM(c) OVER (PARTITION BY g ORDER BY s ASC) AS cm,
         SUM(c) OVER (PARTITION BY g) AS n
  FROM (
    SELECT g, abs(value - med) AS s, COUNT(*) AS c
    FROM sided JOIN med ON med.g = sided.event_type
    WHERE a = 1 GROUP BY 1, 2
  )
),
qh AS (
  SELECT g,
         MIN(CASE WHEN cm >= LEAST((({num} * (n + 1)) + {den} - 1)
                                   // {den}, n)
                  THEN s END) AS qhat
  FROM s2 GROUP BY g
)
SELECT t.event_type,
       CAST(MAX(m.n_cal) AS BIGINT) AS n_cal,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       MAX(m.med) AS med,
       MAX(q.qhat) AS qhat,
       {SQL_ROUND6.format(
           x="CAST(count_if(abs(t.value - m.med) <= q.qhat) AS DOUBLE)"
             " / CAST(COUNT(*) AS DOUBLE)"
       )} AS coverage
FROM sided t
JOIN med m ON m.g = t.event_type
JOIN qh q ON q.g = t.event_type
WHERE t.a = 0
GROUP BY t.event_type
"""


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

#: Every registered query with its DuckDB oracle SQL, or None where no SQL
#: twin exists. A query's name is its function name without ``q_``. The
#: order carries no meaning: __spark_entry__.queries() computes the
#: verification order from the CORRECTNESS_r*.json ledger.
REGISTRY: tuple[tuple[QueryFn, str | None], ...] = (
    (q_pricing_summary, SQL_PRICING),
    (q_top_parts, SQL_TOP_PARTS),
    (q_lineitem_enriched, SQL_ENRICHED),
    (q_latest_event_per_user, SQL_LATEST),
    (q_event_value_rate, SQL_RATE),
    (q_event_type_rate_stats, SQL_RATE_STATS),
    (q_hourly_event_stats, SQL_HOURLY),
    (q_user_sessions, SQL_SESSIONS),
    (q_user_session_windows, SQL_SESSION_WINDOWS),
    (q_event_retention, SQL_EVENT_RETENTION),
    (q_moving_event_stats, _sql_moving()),
    (q_approx_event_stats, SQL_APPROX_EVENT_STATS),
    (q_event_props_stats, SQL_PROPS),
    (q_event_type_pivot, SQL_PIVOT),
    (q_value_buckets, SQL_BUCKETS),
    (q_dedup_events, SQL_DEDUP_EVENTS),
    (q_top_customers, SQL_TOP_CUSTOMERS),
    (q_global_event_stats, SQL_GLOBAL_STATS),
    (q_geo_trajectory, SQL_GEO_TRAJ),
    (q_geo_speed_by_type, SQL_GEO_SPEED_STATS),
    (q_geo_region_counts, SQL_GEO_REGIONS),
    (q_orders_without_lineitems, SQL_ANTI),
    (q_active_customers, SQL_SEMI),
    (q_event_union, SQL_UNION),
    (q_events_asof_error, SQL_ASOF),
    (q_geo_nearby_events, SQL_GEO_NEARBY),
    (q_emb_cosine_neardups, _sql_emb_neardups()),
    (q_sales_rollup, SQL_ROLLUP),
    (q_salted_supplier_stats, SQL_SALTED),
    (q_top_orders_per_priority, SQL_TOP_PER_GROUP),
    (q_sales_cube, SQL_CUBE),
    (q_value_percentiles, SQL_PERCENTILES),
    (q_doc_stats, _sql_doc_stats()),
    (q_doc_langid_confusion, _sql_langid_confusion()),
    (q_event_anomaly_profile, SQL_EVENT_ANOMALY),
    (q_doc_lang_token_stats, SQL_LANG_TOKENS),
    (q_doc_exact_dups, SQL_EXACT_DUPS),
    (q_ngram_neardups, SQL_NGRAM_NEARDUPS),
    (q_minhash_signatures, SQL_MINHASH_SIG),
    (q_minhash_lsh_pairs, _sql_minhash_lsh()),
    (q_simhash, SQL_SIMHASH),
    (q_simhash_neardups, _sql_simhash_neardups()),
    (q_winnow_fingerprints, _sql_winnow_fps()),
    (q_winnow_overlap, _sql_winnow_overlap()),
    (q_doc_cdc_chunks, _sql_doc_cdc_chunks()),
    (q_token_zipf_fit, _sql_token_zipf_fit()),
    (q_user_ab_lift, _sql_user_ab_lift()),
    (q_cosine_topk, SQL_COSINE_TOPK),
    (q_embedding_norms, SQL_EMB_NORMS),
    (q_ann_lsh, _sql_ann_lsh()),
    (q_ann_ivf, _sql_ann_ivf()),
    (q_multimodal_features, SQL_MULTIMODAL),
    (q_weather_pivot, _sql_weather()),
    (q_neardup_components, _sql_neardup_components()),
    (q_neardup_bfs_depths, _sql_neardup_bfs()),
    (q_doc_sample_by_lang, SQL_SAMPLE_BY_LANG),
    (q_doc_hash_sample, SQL_HASH_SAMPLE),
    (q_doc_quality_filter, _sql_quality_filter()),
    (q_doc_corpus_mix, _sql_corpus_mix()),
    (q_doc_tfidf_terms, SQL_TFIDF),
    (q_emb_quantized, SQL_QUANTIZED),
    (q_clicks_after_error, SQL_CLICKS_AFTER_ERROR),
    (q_doc_gopher_quality, _sql_gopher_quality()),
    (q_doc_repetition_filter, _sql_repetition_filter()),
    (q_doc_pack_windows, SQL_PACK_WINDOWS),
    (q_doc_decontaminate, SQL_DECONTAMINATE),
    (q_emb_kmeans, SQL_EMB_KMEANS),
    (q_doc_vocab_coverage, SQL_VOCAB_COVERAGE),
    (q_event_funnel, SQL_EVENT_FUNNEL),
    (q_doc_data_card, SQL_DOC_DATA_CARD),
    (q_event_gap_fill, SQL_EVENT_GAP_FILL),
    (q_event_pivot_roundtrip, SQL_PIVOT_ROUNDTRIP),
    (q_shipping_priority, SQL_SHIPPING_PRIORITY),
    (q_local_supplier_volume, SQL_LOCAL_SUPPLIER_VOLUME),
    (q_emb_semdedup, SQL_EMB_SEMDEDUP),
    (q_ann_index_stats, _sql_ann_index_stats()),
    (q_emb_pq, SQL_EMB_PQ),
    (q_ann_pq, _sql_ann_pq()),
    (q_doc_repeated_spans, SQL_DOC_REPEATED_SPANS),
    (q_doc_clip_repeated, _sql_clip_repeated()),
    (q_doc_splits, _sql_doc_splits()),
    (q_event_audience_overlap, SQL_EVENT_AUDIENCE_OVERLAP),
    (q_doc_upsample_mix, _sql_upsample_mix()),
    (q_doc_subword_stats, SQL_DOC_SUBWORD_STATS),
    (q_doc_token_pair_stats, SQL_TOKEN_PAIR_STATS),
    (q_doc_chunks, SQL_DOC_CHUNKS),
    (q_doc_source_drift, SQL_DOC_SOURCE_DRIFT),
    (q_forecast_revenue, SQL_FORECAST_REVENUE),
    (q_priority_count, SQL_PRIORITY_COUNT),
    (q_returned_items, SQL_RETURNED_ITEMS),
    (q_promo_revenue, SQL_PROMO_REVENUE),
    (q_top_revenue_supplier, SQL_TOP_REVENUE_SUPPLIER),
    (q_small_quantity_revenue, SQL_SMALL_QUANTITY_REVENUE),
    (q_large_orders, SQL_LARGE_ORDERS),
    (q_brand_discount_revenue, SQL_BRAND_DISCOUNT_REVENUE),
    (q_idle_rich_customers, SQL_IDLE_RICH_CUSTOMERS),
    (q_doc_unigram_logprob, SQL_UNIGRAM_LOGPROB),
    (q_emb_pca, None),
    (q_emb_pca_invariants, SQL_EMB_PCA_INVARIANTS),
    (q_doc_curation_pipeline, _sql_curation_pipeline()),
    (q_doc_pii_scrub, _sql_pii_scrub()),
    (q_doc_quality_classifier, _sql_quality_classifier()),
    (q_doc_novelty, _sql_doc_novelty()),
    (q_doc_html_extract, _sql_html_extract()),
    (q_neardup_pagerank, _sql_neardup_pagerank()),
    (q_doc_mixture_weights, _sql_mixture_weights()),
    (q_doc_url_normalize, _sql_url_normalize()),
    (q_emb_decontaminate, _sql_emb_decontaminate()),
    (q_doc_version_diff, _sql_version_diff()),
    (q_doc_bigram_logprob, SQL_BIGRAM_LOGPROB),
    (q_doc_domain_quality, _sql_domain_quality()),
    (q_doc_neardup_keep, _sql_neardup_keep()),
    (q_emb_cluster_prune, _sql_emb_cluster_prune()),
    (q_doc_blocklist_filter, _sql_blocklist_filter()),
    (q_doc_boilerplate_segments, _sql_boilerplate_segments()),
    (q_nation_trade_volume, SQL_NATION_TRADE_VOLUME),
    (q_nation_market_share, SQL_NATION_MARKET_SHARE),
    (q_product_line_profit, SQL_PRODUCT_LINE_PROFIT),
    (q_customer_order_distribution, SQL_CUSTOMER_ORDER_DISTRIBUTION),
    (q_emb_signbits, _sql_emb_signbits()),
    (q_ann_hamming, _sql_ann_hamming()),
    (q_ann_hamming_rerank, _sql_ann_hamming_rerank()),
    (q_events_changelog_state, SQL_CHANGELOG_STATE),
    (q_doc_scd2_history, SQL_DOC_SCD2),
    (q_neardup_triangles, _sql_neardup_triangles()),
    (q_doc_bm25_topk, _sql_doc_bm25()),
    (q_orders_profile, _sql_orders_profile()),
    (q_emb_dim_stats, SQL_EMB_DIM_STATS),
    (q_event_seasonality, SQL_EVENT_SEASONALITY),
    (q_join_skew_profile, SQL_JOIN_SKEW_PROFILE),
    (q_doc_phrase_search, _sql_doc_phrase_search()),
    (q_customer_rfm_segments, _sql_customer_rfm()),
    (q_bloom_join_filter, _sql_bloom_join_filter()),
    (q_purchase_attribution, SQL_PURCHASE_ATTRIBUTION),
    (q_fk_integrity_audit, _sql_fk_integrity_audit()),
    (q_doc_hybrid_rrf, _sql_doc_hybrid_rrf()),
    (q_event_markov_transitions, SQL_MARKOV_TRANSITIONS),
    (q_doc_cross_lang_dups, SQL_CROSS_LANG_DUPS),
    (q_part_type_yoy_growth, SQL_PART_TYPE_YOY),
    (q_neardup_kcore, _sql_neardup_kcore()),
    (q_neardup_prefix_pairs, SQL_PREFIX_PAIRS),
    (q_sorted_neighborhood_pairs, SQL_SORTED_NEIGHBORHOOD),
    (q_event_top_paths, SQL_EVENT_TOP_PATHS),
    (q_user_distinct_sketch, SQL_USER_DISTINCT_SKETCH),
    (q_user_overlap_sketch, SQL_USER_OVERLAP_SKETCH),
    (q_doc_priority_sample, SQL_PRIORITY_SAMPLE),
    (q_order_price_quantiles, SQL_ORDER_PRICE_QUANTILES),
    (q_order_price_rank_sketch, _sql_rank_sketch()),
    (q_neardup_communities, _sql_neardup_communities()),
    (q_token_pmi, _sql_token_pmi()),
    (q_token_textrank, _sql_token_textrank()),
    (q_neardup_link_prediction, _sql_neardup_link_prediction()),
    (q_event_assoc_rules, SQL_EVENT_ASSOC_RULES),
    (q_event_type_ewma, SQL_EVENT_TYPE_EWMA),
    (q_event_cms_heavy_hitters, _sql_event_cms()),
    (q_min_cost_supplier, SQL_MIN_COST_SUPPLIER),
    (q_important_part_value, SQL_IMPORTANT_PART_VALUE),
    (q_late_shipment_priority, SQL_LATE_SHIPMENT_PRIORITY),
    (q_supplier_part_variety, SQL_SUPPLIER_PART_VARIETY),
    (q_dominant_part_suppliers, SQL_DOMINANT_PART_SUPPLIERS),
    (q_suppliers_kept_waiting, SQL_SUPPLIERS_KEPT_WAITING),
    (q_doc_token_entropy, _sql_doc_token_entropy()),
    (q_doc_containment_dups, SQL_DOC_CONTAINMENT),
    (q_event_bursts, SQL_EVENT_BURSTS),
    (q_emb_range_search, SQL_EMB_RANGE_SEARCH),
    (q_user_hll_sketch, SQL_USER_HLL_SKETCH),
    (q_doc_ngram_contamination, _sql_doc_ngram_contamination()),
    (q_emb_mrl_recall, _sql_emb_mrl_recall()),
    (q_doc_dsir_weights, _sql_doc_dsir_weights()),
    (q_emb_hard_negatives, SQL_EMB_HARD_NEGATIVES),
    (q_emb_hard_negatives_mined, _sql_emb_hard_negatives_mined()),
    (q_emb_outliers, _sql_emb_outliers()),
    (q_event_hopping_stats, SQL_HOPPING),
    (q_user_cumulative_uniques, SQL_CUMULATIVE_UNIQUES),
    (q_doc_length_gini, SQL_DOC_GINI),
    (q_order_priority_marginals, SQL_ORDER_MARGINALS),
    (q_event_trailing_window_stats, SQL_TRAILING_WINDOW),
    (q_part_name_fuzzy_matches, SQL_FUZZY_MATCHES),
    (q_doc_unigram_tokenize, None),
    (q_doc_token_heavy_hitters, SQL_TOKEN_HEAVY_HITTERS),
    (q_doc_kn_logprob, SQL_KN_LOGPROB),
    (q_event_ks_drift, SQL_KS_DRIFT),
    (q_event_mwu_drift, SQL_MWU_DRIFT),
    (q_event_welch_drift, SQL_WELCH_DRIFT),
    (q_event_cusum_shift, SQL_CUSUM_SHIFT),
    (q_event_psi_drift, _sql_psi_drift()),
    (q_event_winsor_stats, SQL_WINSOR_STATS),
    (q_event_value_mad, SQL_EVENT_MAD),
    (q_brand_price_ols, _ols_sql()),
    (q_token_chi2_drift, SQL_CHI2_DRIFT),
    (q_doc_gate_agreement, _sql_gate_agreement()),
    (q_order_benford_digits, _sql_benford()),
    (q_event_js_divergence, SQL_JS_DIVERGENCE),
    (q_user_kaplan_meier, SQL_KAPLAN_MEIER),
    (q_event_poisson_bootstrap, _sql_poisson_bootstrap()),
    (q_part_price_skyline, SQL_PART_SKYLINE),
    (q_geo_morton_density, _sql_morton_density()),
    (q_event_trend_robust, SQL_TREND_ROBUST),
    (q_doc_quality_auc, _sql_quality_auc()),
    (q_event_markov_entropy, SQL_MARKOV_ENTROPY),
    (q_event_conformal_interval, _sql_conformal_interval()),
)

QUERIES: dict[str, QueryFn] = {
    fn.__name__.removeprefix("q_"): fn for fn, _ in REGISTRY
}


def build_oracles() -> dict[str, str]:
    return {
        fn.__name__.removeprefix("q_"): sql
        for fn, sql in REGISTRY
        if sql is not None
    }
