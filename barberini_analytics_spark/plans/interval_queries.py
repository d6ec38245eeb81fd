"""Range-join / calendar / interval queries (SURVEY §2.4 J4/J12, §2.10
M11/M12) over the synthetic corpus.

Determinism notes:

- The M12 ranking replaces ``sum(1/R)`` by a scaled-integer score
  (``floor(count_interval * 10000 / candidates)`` summed as BIGINT): double
  summation order varies between engines and the HAVING threshold sits on
  the sum, so the reference's float form cannot be hash-stable.  The
  comparison ``R ≤ 50`` becomes the exact ``candidates ≤ 50 ·
  count_interval``.
- Interval merging follows the reference exactly: consecutive relevant
  dates merge while the gap ≤ 2·offset, and the final interval is
  *shrunk* by offset on both ends
  (src/extended_twitter_collection/keyword_intervals.py:117-141).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core.io import load_table
from ..domain import views as V
from ..operators.relational import date_series, sessionize
from .registry import query

# ---------------------------------------------------------------------------
# J4 — exhibition_day calendar range join
# ---------------------------------------------------------------------------

_CAL_TODAY = "2024-12-31"


def _exhibition_tables(spark: SparkSession, sf_dir: str):
    sup = load_table(spark, sf_dir, "supplier")
    raw = sup.selectExpr("s_name AS title",
                         "CAST(NULL AS STRING) AS picture_url")
    t1 = sup.selectExpr(
        "s_name AS title",
        "date_add(DATE'2024-01-01', CAST((s_suppkey * 3) % 180 AS INT))"
        " AS start_date",
        "date_add(DATE'2024-01-01', CAST((s_suppkey * 3) % 180"
        " + s_suppkey % 45 AS INT)) AS end_date")
    t2 = sup.filter("s_suppkey % 10 = 0").selectExpr(
        "s_name AS title",
        "date_add(DATE'2024-01-01', CAST((s_suppkey * 3) % 180 + 200 AS INT))"
        " AS start_date",
        "date_add(DATE'2024-01-01', CAST((s_suppkey * 3) % 180 + 230 AS INT))"
        " AS end_date")
    return {"exhibition_raw": raw, "exhibition_time": t1.unionByName(t2)}


@query(
    "exhibition_day_calendar",
    oracle=f"""
    WITH exhibition_time AS (
        (SELECT s_name AS title,
                DATE '2024-01-01' + CAST((s_suppkey * 3) % 180 AS INT)
                    AS start_date,
                DATE '2024-01-01' + CAST((s_suppkey * 3) % 180
                    + s_suppkey % 45 AS INT) AS end_date
         FROM supplier)
        UNION ALL
        (SELECT s_name,
                DATE '2024-01-01' + CAST((s_suppkey * 3) % 180 + 200 AS INT),
                DATE '2024-01-01' + CAST((s_suppkey * 3) % 180 + 230 AS INT)
         FROM supplier WHERE s_suppkey % 10 = 0)),
    exhibition AS (
        SELECT title,
               CONCAT_WS(' ', CAST(year(first_start) AS VARCHAR),
                   COALESCE(NULLIF(regexp_extract(title,
                       '^(.*?\\S)\\s*[./-] ', 1), ''), title))
                   AS short_title
        FROM (SELECT title, MIN(start_date) AS first_start
              FROM exhibition_time GROUP BY title)),
    days AS (
        SELECT CAST(unnest(generate_series(
            (SELECT MIN(start_date) FROM exhibition_time),
            DATE '{_CAL_TODAY}', INTERVAL 1 DAY)) AS DATE) AS date)
    SELECT d.date, t.title, e.short_title
    FROM days d
    JOIN exhibition_time t ON d.date BETWEEN t.start_date AND t.end_date
    JOIN exhibition e USING (title)
    """,
)
def exhibition_day_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: dense ``sequence()+explode`` calendar range-joined into the
    interval dimension (migration_041.sql:33-42) — the exhibition fixture is
    synthesized from ``supplier`` (some titles with two runs).

    Scale: the date series and interval dimension are tiny — Catalyst
    broadcasts both sides of the nested-loop range join; the big side
    (none here, but ``post`` in the reference) would stream."""
    return V.exhibition_day(_exhibition_tables(spark, sf_dir), _CAL_TODAY)


# ---------------------------------------------------------------------------
# J12 — capacity grid invalidation (quota × calendar × slots, 3VL anti)
# ---------------------------------------------------------------------------

_GRID_START, _GRID_DAYS, _SLOT_SECONDS = "2024-01-01", 14, 3600


@query(
    "capacity_grid_invalidation",
    oracle=f"""
    WITH quota AS (
        SELECT s_suppkey AS quota_id,
               TIMESTAMP '2024-01-01' + (s_suppkey % 14) * INTERVAL 1 DAY
                   AS update_date
        FROM supplier),
    capacity AS (
        SELECT CAST(event_id % 100 AS BIGINT) AS quota_id,
               CAST(ts AS DATE) AS date,
               CAST(hour(ts) * 3600 AS INT) AS time,
               MAX(ts) AS last_updated
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1, 2, 3),
    grid AS (
        SELECT q.quota_id, q.update_date, d.date, t.time
        FROM quota q
        CROSS JOIN (SELECT CAST(unnest(generate_series(
            DATE '{_GRID_START}',
            DATE '{_GRID_START}' + {_GRID_DAYS - 1},
            INTERVAL 1 DAY)) AS DATE) AS date) d
        CROSS JOIN (SELECT CAST(unnest(generate_series(0, 82800, 3600))
            AS INT) AS time) t)
    SELECT g.quota_id, g.date, g.time
    FROM grid g
    LEFT JOIN capacity c USING (quota_id, date, time)
    WHERE COALESCE(c.last_updated >= g.update_date, FALSE) = FALSE
    """,
)
def capacity_grid_invalidation(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """J12: quota × (date × 1-h slot) scaffold LEFT JOIN capacity with the
    null-tolerant anti filter ``(last_updated >= update_date) IS NOT TRUE``
    (src/gomus/capacities.py:253-276) — slots never fetched or fetched
    before the quota's update count as invalidated.

    The grid is generated distributed (sequence+explode), the capacity side
    aggregates to the latest snapshot per slot first; the final filter is
    the 3VL coalesce form (SURVEY §4 trap 3)."""
    sup = load_table(spark, sf_dir, "supplier")
    events = load_table(spark, sf_dir, "events")
    quota = sup.selectExpr(
        "s_suppkey AS quota_id",
        "TIMESTAMP'2024-01-01' + make_dt_interval(CAST(s_suppkey % 14"
        " AS INT), 0, 0, 0) AS update_date")
    capacity = (
        events.filter("event_type = 'purchase'")
        .selectExpr("CAST(event_id % 100 AS BIGINT) AS quota_id",
                    "CAST(ts AS DATE) AS date",
                    "CAST(hour(ts) * 3600 AS INT) AS time", "ts")
        .groupBy("quota_id", "date", "time")
        .agg(F.max("ts").alias("last_updated"))
    )
    days = date_series(spark, _GRID_START,
                       F.date_add(F.to_date(F.lit(_GRID_START)),
                                  _GRID_DAYS - 1))
    slots = spark.range(1).select(
        F.explode(F.sequence(F.lit(0), F.lit(82800),
                             F.lit(_SLOT_SECONDS))).alias("time")
    ).select(F.col("time").cast("int").alias("time"))
    grid = quota.crossJoin(F.broadcast(days)).crossJoin(F.broadcast(slots))
    invalid = (
        grid.join(capacity, ["quota_id", "date", "time"], "left")
        .filter(~F.coalesce(F.col("last_updated") >= F.col("update_date"),
                            F.lit(False)))
    )
    return invalid.select("quota_id", "date", "time")


# ---------------------------------------------------------------------------
# M11 — keyword intervals (gap-merge sessionization, shrink by offset)
# ---------------------------------------------------------------------------

_OFFSET_DAYS = 2  # reference default 7 (keyword_intervals.py); 2 fits 30 days


def _relevant_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse (term, date) signal: term = the ``k`` prop, ~1/13 of events."""
    events = load_table(spark, sf_dir, "events")
    return events.filter("CAST(floor(value) AS INT) % 13 = 0").selectExpr(
        "'k' || regexp_extract(props, '([0-9]+)', 1) AS term",
        "CAST(ts AS DATE) AS d")


_RELEVANT_SQL = """
    rel AS (
        SELECT 'k' || regexp_extract(props, '([0-9]+)', 1) AS term,
               CAST(ts AS DATE) AS d
        FROM events WHERE CAST(floor(value) AS INT) % 13 = 0)
"""

_INTERVALS_SQL = f"""
    dd AS (SELECT DISTINCT term, d FROM rel),
    flagged AS (
        SELECT term, d,
               CASE WHEN lag(d) OVER w IS NULL
                    OR d > lag(d) OVER w + {2 * _OFFSET_DAYS}
                    THEN 1 ELSE 0 END AS is_new
        FROM dd WINDOW w AS (PARTITION BY term ORDER BY d)),
    sessions AS (
        SELECT term, d, SUM(is_new) OVER (PARTITION BY term ORDER BY d
            ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged),
    intervals AS (
        SELECT term, MIN(d) + {_OFFSET_DAYS} AS start_date,
               MAX(d) - {_OFFSET_DAYS} AS end_date
        FROM sessions GROUP BY term, session_id),
    ki AS (
        SELECT i.term, i.start_date, i.end_date,
               CAST((SELECT COUNT(*) FROM rel r
                     WHERE r.term = i.term
                       AND r.d BETWEEN i.start_date AND i.end_date)
                   AS BIGINT) AS count_interval,
               CAST((SELECT COUNT(*) FROM rel r WHERE r.term = i.term)
                   AS BIGINT) AS count_overall
        FROM intervals i)
"""


def _keyword_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    rel = _relevant_events(spark, sf_dir).cache()
    dd = rel.distinct()
    sess = sessionize(dd, ["term"], "d", F.expr("INTERVAL 4 DAYS"))
    intervals = sess.groupBy("term", "session_id").agg(
        F.date_add(F.min("d"), _OFFSET_DAYS).alias("start_date"),
        F.date_sub(F.max("d"), _OFFSET_DAYS).alias("end_date"),
    ).drop("session_id")
    overall = rel.groupBy("term").agg(F.count(F.lit(1)).alias("count_overall"))
    in_interval = (
        intervals.join(rel, ["term"])
        .filter(F.col("d").between(F.col("start_date"), F.col("end_date")))
        .groupBy("term", "start_date", "end_date")
        .agg(F.count(F.lit(1)).alias("count_interval"))
    )
    return (
        intervals.join(in_interval, ["term", "start_date", "end_date"],
                       "left")
        .join(overall, ["term"])
        .select("term", "start_date", "end_date",
                F.coalesce("count_interval", F.lit(0)).alias("count_interval"),
                "count_overall")
    )


@query(
    "keyword_intervals",
    oracle=f"WITH {_RELEVANT_SQL}, {_INTERVALS_SQL} SELECT * FROM ki",
)
def keyword_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M11: per-term non-overlapping intervals — gap-merge sessionization
    (lag + running sum, one shuffle) instead of the reference's Python date
    loop; intervals shrink by the offset on both ends, counts per interval
    and overall."""
    return _keyword_intervals(spark, sf_dir)


# ---------------------------------------------------------------------------
# M12 — extended-dataset ranking (range + regex join, reciprocal-R ranking)
# ---------------------------------------------------------------------------

_TERMS = ("spark", "query", "join", "window")
_R_THRESH = 50
_SCORE_SCALE = 10_000
_RANKING_THRESH = int(0.8 * _SCORE_SCALE)
_TERMS_SQL = ", ".join(f"('{t}')" for t in _TERMS)

# initial dataset = even doc_ids; candidates = all docs (see module doc)
_M12_FIXTURE_SQL = f"""
    docs AS (
        SELECT doc_id,
               make_timestamp((1704067200 + doc_id * 3600) * 1000000)
                   AS post_date,
               lower(text) AS text
        FROM documents),
    terms(term) AS (VALUES {_TERMS_SQL}),
    candidates AS (
        SELECT t.term, d.doc_id, CAST(d.post_date AS DATE) AS post_date,
               d.text
        FROM docs d JOIN terms t
          ON regexp_matches(d.text, '\\b' || t.term || '\\b')),
    rel AS (
        SELECT term, post_date AS d FROM candidates WHERE doc_id % 2 = 0)
"""


@query(
    "extended_dataset_ranking",
    oracle=f"""
    WITH {_M12_FIXTURE_SQL}, {_INTERVALS_SQL},
    ki_r AS (
        SELECT ki.term, ki.start_date, ki.end_date, ki.count_interval,
               CAST(COUNT(*) AS BIGINT) AS cand_count
        FROM ki JOIN candidates ec
          ON ki.term = ec.term
         AND ec.post_date BETWEEN ki.start_date AND ki.end_date
        WHERE ki.count_interval > 0
        GROUP BY ki.term, ki.start_date, ki.end_date, ki.count_interval
        HAVING CAST(COUNT(*) AS BIGINT)
               <= {_R_THRESH} * ki.count_interval),
    ranked AS (
        SELECT ec.doc_id, ec.post_date,
               CAST(SUM(CAST(floor(ki_r.count_interval * {_SCORE_SCALE}.0
                   / ki_r.cand_count) AS BIGINT)) AS BIGINT) AS score,
               CAST(COUNT(*) AS BIGINT) AS n_intervals
        FROM ki_r JOIN (SELECT DISTINCT doc_id, post_date, text
                        FROM candidates) ec
          ON ec.post_date BETWEEN ki_r.start_date AND ki_r.end_date
         AND regexp_matches(ec.text, '\\b' || ki_r.term || '\\b')
        GROUP BY ec.doc_id, ec.post_date
        HAVING CAST(SUM(CAST(floor(ki_r.count_interval * {_SCORE_SCALE}.0
                   / ki_r.cand_count) AS BIGINT)) AS BIGINT)
               >= {_RANKING_THRESH})
    SELECT DISTINCT doc_id, post_date, score, n_intervals FROM ranked
    """,
)
def extended_dataset_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M12: keyword intervals over an initial subset, R-value enrichment
    against the candidate corpus (range join), then the J5 regex theta join
    with reciprocal-R ranking (collect_tweets.py:27-102,
    migration_044.sql:5-27); ``sum(1/R)`` is scaled-integer for
    engine-portability (module docstring)."""
    docs = load_table(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "CAST(timestamp_micros((1704067200 + doc_id * 3600) * 1000000)"
        " AS DATE) AS post_date",
        "lower(text) AS text")
    from ..core.localrel import values_df

    terms = values_df(spark, [(t,) for t in _TERMS], "term string")
    candidates = docs.join(
        F.broadcast(terms),
        F.expr(r"text rlike ('\\b' || term || '\\b')")).cache()
    rel = candidates.filter("doc_id % 2 = 0").select(
        "term", F.col("post_date").alias("d"))

    dd = rel.distinct()
    sess = sessionize(dd, ["term"], "d", F.expr("INTERVAL 4 DAYS"))
    intervals = sess.groupBy("term", "session_id").agg(
        F.date_add(F.min("d"), _OFFSET_DAYS).alias("start_date"),
        F.date_sub(F.max("d"), _OFFSET_DAYS).alias("end_date"),
    ).drop("session_id")
    count_interval = (
        intervals.join(rel, ["term"])
        .filter(F.col("d").between(F.col("start_date"), F.col("end_date")))
        .groupBy("term", "start_date", "end_date")
        .agg(F.count(F.lit(1)).alias("count_interval"))
    )
    ki_r = (
        count_interval.filter("count_interval > 0")
        .join(candidates, ["term"])
        .filter(F.col("post_date").between(F.col("start_date"),
                                           F.col("end_date")))
        .groupBy("term", "start_date", "end_date", "count_interval")
        .agg(F.count(F.lit(1)).alias("cand_count"))
        .filter(F.col("cand_count") <= _R_THRESH * F.col("count_interval"))
        .withColumn(
            "score_part",
            F.floor(F.col("count_interval") * float(_SCORE_SCALE)
                    / F.col("cand_count")).cast("long"))
    )
    ranked = (
        F.broadcast(ki_r.withColumnRenamed("term", "ki_term")).join(
            candidates.drop("term").distinct(),
            F.col("post_date").between(F.col("start_date"),
                                       F.col("end_date"))
            & F.expr(r"text rlike ('\\b' || ki_term || '\\b')"))
        .groupBy("doc_id", "post_date")
        .agg(F.sum("score_part").alias("score"),
             F.count(F.lit(1)).alias("n_intervals"))
        .filter(F.col("score") >= _RANKING_THRESH)
    )
    return ranked.select("doc_id", "post_date", "score",
                         "n_intervals").distinct()


# ---------------------------------------------------------------------------
# M15 — exhibition popularity (fuzzy announcement matching)
# ---------------------------------------------------------------------------

_POP_EPOCH = "2024-01-10"   # earliest synthetic exhibition start
_POP_WINDOW_DAYS = 360      # announcement pre-window (exhibition_popularity.py:60)


@query(
    "exhibition_popularity",
    oracle=f"""
    WITH ev AS (
        SELECT event_id, CAST(ts AS DATE) AS post_date,
               event_type AS text, value FROM events
    ),
    ex0 AS (SELECT DISTINCT event_type AS et FROM events),
    exh AS (
        SELECT et || '!' AS title FROM ex0
        UNION
        SELECT substring(et, 1, 4) AS title FROM ex0 WHERE length(et) > 5
    ),
    exd AS (
        SELECT title,
               lower(regexp_replace(title, '[^a-zA-Z0-9]', '', 'g')) AS simple,
               DATE '{_POP_EPOCH}' + CAST(
                   (length(regexp_replace(title, '[^a-zA-Z0-9]', '', 'g')) * 5)
                   % 40 AS INT) AS start_date
        FROM exh
    ),
    cand AS (
        SELECT e.event_id, x.title, e.value
        FROM ev e JOIN exd x
          ON contains(lower(regexp_replace(e.text, '[^a-zA-Z0-9]', '', 'g')),
                      x.simple)
         AND e.post_date >= x.start_date - INTERVAL {_POP_WINDOW_DAYS} DAY
         AND e.post_date < x.start_date
    ),
    uniq AS (
        SELECT event_id FROM cand GROUP BY event_id
        HAVING count(DISTINCT title) = 1
    ),
    ann AS (
        SELECT c.title, max(c.value) AS pop
        FROM cand c JOIN uniq u USING (event_id) GROUP BY c.title
    ),
    fb AS (SELECT avg(pop) AS mean_pop FROM ann)
    SELECT x.title, x.start_date,
           round(coalesce(a.pop, f.mean_pop), 6) AS popularity,
           a.pop IS NOT NULL AS announced
    FROM exd x LEFT JOIN ann a USING (title) CROSS JOIN fb f
    """,
)
def exhibition_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M15: exhibition popularity via fuzzy announcement matching.

    Reference (src/visitor_prediction/exhibition_popularity.py:43-95):
    a post announces an exhibition when its simplified text contains the
    simplified title and the post date falls in the 360-day window before
    the opening; posts matching more than one exhibition are ambiguous and
    dropped; popularity = max(likes) per exhibition, with the mean over
    announced exhibitions as fallback (P10 simplification
    :98-100).

    Synthetic mapping: "posts" are events (text = event_type, likes =
    value); exhibitions are decorated event types plus 4-char prefixes of
    the long ones, which makes prefix/full pairs genuinely ambiguous
    inside the overlap of their windows.

    Scale shape: the exhibition side is tiny → the containment+range theta
    join is a BroadcastNestedLoopJoin over one events scan; ambiguity
    filtering and the max are one shuffle on (event_id) then (title).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.to_date("ts").alias("post_date"),
        F.col("event_type").alias("text"),
        "value",
    )
    et = ev.select(F.col("text").alias("et")).distinct()
    exh = (
        et.select(F.concat(F.col("et"), F.lit("!")).alias("title"))
        .unionByName(
            et.filter(F.length("et") > 5)
            .select(F.substring("et", 1, 4).alias("title"))
        )
        .distinct()
    )
    simple = F.lower(F.regexp_replace(F.col("title"), "[^a-zA-Z0-9]", ""))
    # tiny dimension reused by the candidate join AND the final left join —
    # persist so the distinct-over-events subtree runs once, not per branch
    exd = exh.select(
        "title",
        simple.alias("simple"),
        F.date_add(
            F.lit(_POP_EPOCH).cast("date"),
            (F.length(simple) * 5) % 40,
        ).alias("start_date"),
    ).persist()
    # pre-project the simplified post text: inlining the regexp in the BNL
    # join condition would re-evaluate it once per (post × exhibition)
    # candidate pair instead of once per post row
    evs = ev.withColumn(
        "__post_simple",
        F.lower(F.regexp_replace(F.col("text"), "[^a-zA-Z0-9]", "")),
    )
    cand = (
        evs.join(
            F.broadcast(exd),
            F.col("__post_simple").contains(F.col("simple"))
            & (F.col("post_date") >= F.date_sub(F.col("start_date"),
                                                _POP_WINDOW_DAYS))
            & (F.col("post_date") < F.col("start_date")),
        )
        .select("event_id", "title", "value")
    )
    uniq = (
        cand.groupBy("event_id")
        .agg(F.countDistinct("title").alias("n_titles"))
        .filter(F.col("n_titles") == 1)
        .select("event_id")
    )
    ann = (
        cand.join(uniq, "event_id")
        .groupBy("title")
        .agg(F.max("value").alias("pop"))
    ).persist()  # reused by the fallback mean and the final join
    fb = ann.agg(F.avg("pop").alias("mean_pop"))
    return (
        exd.join(ann, "title", "left")
        .crossJoin(F.broadcast(fb))
        .select(
            "title",
            "start_date",
            F.round(F.coalesce(F.col("pop"), F.col("mean_pop")), 6)
            .alias("popularity"),
            F.col("pop").isNotNull().alias("announced"),
        )
    )
