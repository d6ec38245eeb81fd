"""Domain view-stack parity tests: each Spark view builder vs the
reference's view SQL (Postgres dialect → DuckDB) over one shared fixture.

The fixture covers the traps: posts without performance snapshots, multiple
snapshots per post, comments with responses, tweets without author rows,
non-official authors (3VL is_from_museum), union dedup, mode ties,
customers with no orders/bookings/events, special exhibition rows.
"""

from __future__ import annotations

import datetime as dt

import duckdb
import pytest

from barberini_analytics_spark.domain import schemas as SC
from barberini_analytics_spark.domain import views as V
from tests.oracle_utils import compare_frames

TS = dt.datetime
TODAY = "2024-08-01"


@pytest.fixture(scope="module")
def tables(spark):
    def t(name, rows, cols):
        assert cols == [f.name for f in SC.schema(name).fields][:len(cols)]
        full = [r + (None,) * (len(SC.schema(name).fields) - len(r))
                for r in rows]
        return spark.createDataFrame(full, SC.schema(name)).cache()

    return {
        "fb_post": t("fb_post", [
            ("pg", "1", TS(2024, 1, 1), "hello world"),
            ("pg", "2", TS(2024, 1, 2), None),          # text-less post
        ], ["page_id", "post_id", "post_date", "text"]),
        "fb_post_comment": t("fb_post_comment", [
            ("1", "c1", "pg", TS(2024, 1, 3), "nice", False, None),
            ("1", "c2", "pg", TS(2024, 1, 4), "thanks", True, "c1"),
        ], ["post_id", "comment_id", "page_id", "post_date", "text",
            "is_from_museum", "response_to"]),
        "fb_post_performance": t("fb_post_performance", [
            ("pg", "1", TS(2024, 1, 5), 1, 0, 0, 0, 0, 0, 10, 2, 3,
             0, 0, 0, 0, 0, 100, 90),
            ("pg", "1", TS(2024, 1, 6), 2, 0, 0, 0, 0, 0, 12, 2, 4,
             0, 0, 0, 0, 0, 120, 100),                   # later snapshot wins
            # post "2" has no performance rows at all
        ], [f.name for f in SC.schema("fb_post_performance").fields]),
        "ig_post": t("ig_post", [
            ("ig1", "sunset", TS(2024, 2, 1), "IMAGE", 50, 5,
             "https://instagr.am/p/ig1", None),
        ], [f.name for f in SC.schema("ig_post").fields]),
        "ig_post_performance": t("ig_post_performance", [
            ("ig1", TS(2024, 2, 2), 500, 400, 60, 7, 0, 0, 0, 0, 0, 0),
        ], [f.name for f in SC.schema("ig_post_performance").fields]),
        "tweet": t("tweet", [
            ("u1", "t1", "museum tweet", None, TS(2024, 3, 1)),
            ("u2", "t2", "fan reply", "t1", TS(2024, 3, 2)),
            ("u3", "t3", "stranger", None, TS(2024, 3, 3)),  # no author row
        ], ["user_id", "tweet_id", "text", "response_to", "post_date"]),
        "tweet_performance": t("tweet_performance", [
            ("t1", TS(2024, 3, 4), 7, 2, 1),
        ], ["tweet_id", "timestamp", "likes", "retweets", "replies"]),
        "tweet_author": t("tweet_author", [
            ("u1", "museumbarberini", "official"),
            ("u2", "fan", "follower"),
        ], ["user_id", "user_name", "role"]),
        "appstore_review": t("appstore_review", [
            (V.APPSTORE_APP_ID, "r1", "great app", 5, "1.0", 0, 0,
             "Great", TS(2024, 4, 1), "de"),
            (V.APPSTORE_APP_ID, "r2", None, 3, "1.0", 0, 0, None,
             TS(2024, 4, 2), "us"),                       # title+text both NULL
            ("999", "r3", "other app", 1, "9.9", 0, 0, "Bad",
             TS(2024, 4, 3), "de"),                       # filtered out
        ], [f.name for f in SC.schema("appstore_review").fields]),
        "gplay_review": t("gplay_review", [
            ("g1", "läuft", 4, "2.0", 3, None, TS(2024, 4, 4),
             V.GPLAY_APP_ID),
        ], [f.name for f in SC.schema("gplay_review").fields]),
        "google_maps_review": t("google_maps_review", [
            ("m1", TS(2024, 5, 1), 5, "schön", "nice", "de",
             V.GMAPS_PLACE_ID, "https://maps.google.com/maps?cid=x"),
            ("m2", TS(2024, 5, 2), 2, "meh", None, "en", "other_place",
             "https://maps.google.com/maps?cid=y"),       # filtered out
        ], [f.name for f in SC.schema("google_maps_review").fields]),
        "exhibition_raw": t("exhibition_raw", [
            ("Monet. Orte", "http://img/1"),
            ("Picasso - Das späte Werk", "http://img/2"),
            ("Schließtag / Closing Day", None),           # special: no year
            ("Einzelwort", "http://img/3"),               # no separator
        ], ["title", "picture_url"]),
        "exhibition_time": t("exhibition_time", [
            ("Monet. Orte", dt.date(2020, 2, 22), dt.date(2020, 7, 19)),
            ("Monet. Orte", dt.date(2020, 9, 1), dt.date(2020, 10, 1)),
            ("Picasso - Das späte Werk", dt.date(2019, 3, 9),
             dt.date(2019, 6, 16)),
            ("Schließtag / Closing Day", dt.date(2019, 12, 24),
             dt.date(2019, 12, 24)),
            ("Einzelwort", dt.date(2024, 7, 25), dt.date(2024, 9, 1)),
        ], ["title", "start_date", "end_date"]),
        "gomus_customer": t("gomus_customer", [
            (1, "14467", True, "m", "Privatperson", "de", "Deutschland",
             "Privat", dt.date(2020, 1, 1), False, True, "14467",
             "Deutschland", [], 52.4, 13.0),
            (2, None, False, "w", "Hotel Adlon", "de", "Deutschland",
             "Firma", dt.date(2021, 2, 2), False, True, None, None,
             ["hotel"], None, None),                      # tourism by tags+name
            (3, None, None, None, None, None, None, None, None, None,
             None, None, None, None, None, None),          # empty customer
        ], [f.name for f in SC.schema("gomus_customer").fields]),
        "gomus_order": t("gomus_order", [
            (10, dt.date(2024, 1, 1), 1, True, True, "web"),
            (11, dt.date(2024, 1, 2), 1, True, False, "web"),
            (12, dt.date(2024, 1, 3), 2, True, True, "web"),
            (13, dt.date(2024, 1, 4), 1, True, True, "web"),  # no articles
        ], [f.name for f in SC.schema("gomus_order").fields]),
        "gomus_order_contains": t("gomus_order_contains", [
            (100, "ticket", 10, "Tageskarte", dt.date(2024, 1, 5), 2,
             20.0, False),
            (101, "ticket", 10, "Ermäßigt", dt.date(2024, 1, 5), 1,
             5.0, False),
            (102, "ticket", 11, "Tageskarte", dt.date(2024, 1, 6), 1,
             10.0, False),
            (103, "ticket", 12, "Abendkarte", dt.date(2024, 1, 7), 3,
             30.0, False),
        ], [f.name for f in SC.schema("gomus_order_contains").fields]),
        "gomus_booking": t("gomus_booking", [
            (20, 1, "Führung", 10, 5, 60, "Monet. Orte", "Monet Tour",
             "confirmed", TS(2024, 2, 1, 10), dt.date(2024, 1, 20), "de"),
            (21, 1, "Führung", 8, 5, 60, "Monet. Orte", "Monet Tour",
             "confirmed", TS(2024, 2, 2, 10), dt.date(2024, 1, 21), "de"),
            (22, 1, "Workshop", 6, 6, 90, "Picasso - Das späte Werk",
             "Picasso WS", "confirmed", TS(2024, 2, 3, 10),
             dt.date(2024, 1, 22), "de"),
        ], [f.name for f in SC.schema("gomus_booking").fields]),
        "gomus_event": t("gomus_event", [
            (30, 1, 20, 4, dt.date(2024, 1, 25), "ok", "Vortrag"),
            (31, 1, 20, 2, dt.date(2024, 1, 26), "ok", "Vortrag"),
            (32, 1, 22, 1, dt.date(2024, 1, 27), "ok", "Konzert"),
        ], [f.name for f in SC.schema("gomus_event").fields]),
    }


@pytest.fixture(scope="module")
def oracle(tables):
    con = duckdb.connect()
    for name, df in tables.items():
        pdf = df.toPandas()
        con.register(f"_{name}", pdf)
        con.execute(f"CREATE TABLE {name} AS SELECT * FROM _{name}")
    # generated columns as DuckDB views (migration_011/013)
    con.execute("""
        CREATE VIEW fb_post_g AS SELECT *,
          page_id || '_' || post_id AS fb_post_id,
          'https://www.facebook.com/' || page_id || '/posts/' || post_id
            AS permalink
        FROM fb_post""")
    con.execute("""
        CREATE VIEW fb_comment_g AS SELECT *,
          post_id || '_' || comment_id AS fb_post_comment_id,
          'https://www.facebook.com/' || page_id || '/posts/' || post_id
            || '?comment_id=' || comment_id AS permalink
        FROM fb_post_comment""")
    con.execute("""
        CREATE VIEW tweet_g AS SELECT *,
          'https://twitter.com/user/status/' || tweet_id AS permalink
        FROM tweet""")
    con.execute("""
        CREATE VIEW fb_post_rich AS
        SELECT b.*, p.timestamp, p.react_like, p.react_love, p.react_wow,
               p.react_haha, p.react_sorry, p.react_anger, p.likes, p.shares,
               p.comments, p.video_clicks, p.link_clicks, p.other_clicks,
               p.negative_feedback, p.paid_impressions, p.post_impressions,
               p.post_impressions_unique
        FROM fb_post_g b LEFT JOIN (
            SELECT * FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY page_id, post_id ORDER BY timestamp DESC
                ) rn FROM fb_post_performance) WHERE rn = 1
        ) p USING (page_id, post_id)""")
    con.execute("""
        CREATE VIEW ig_post_rich AS
        SELECT b.ig_post_id, p.timestamp, p.impressions, p.reach,
               p.engagement, p.saved, p.video_views, b.text, b.post_date,
               b.media_type, b.likes, b.comments, b.permalink,
               b.thumbnail_uri
        FROM ig_post b LEFT JOIN (
            SELECT * FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY ig_post_id ORDER BY timestamp DESC
                ) rn FROM ig_post_performance) WHERE rn = 1
        ) p USING (ig_post_id)""")
    con.execute("""
        CREATE VIEW tweet_rich AS
        SELECT b.*, p.timestamp, p.likes, p.retweets, p.replies,
               a.user_name, a.role AS author_role,
               COALESCE(a.role = 'official', FALSE) AS is_from_museum
        FROM tweet_g b
        LEFT JOIN (
            SELECT * FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY tweet_id ORDER BY timestamp DESC
                ) rn FROM tweet_performance) WHERE rn = 1
        ) p USING (tweet_id)
        LEFT JOIN tweet_author a USING (user_id)""")
    con.execute("""
        CREATE VIEW fb_post_all AS
        (SELECT fb_post_id AS post_id, page_id, post_date, text,
                TRUE AS is_from_museum, CAST(NULL AS VARCHAR) AS response_to,
                FALSE AS is_comment, permalink
         FROM fb_post_g)
        UNION
        (SELECT fb_post_comment_id AS post_id, page_id, post_date, text,
                is_from_museum, response_to, TRUE AS is_comment, permalink
         FROM fb_comment_g)""")
    con.execute(f"""
        CREATE VIEW app_review AS
        (SELECT 'Apple Appstore' AS source,
                app_id || '_' || review_id AS review_id,
                NULLIF(CONCAT_WS(chr(10), title, text), '') AS text,
                post_date, rating, app_version, CAST(NULL AS INT) AS likes,
                title,
                'https://apps.apple.com/de/app/museum-barberini/id' || app_id
                  || '#see-all/reviews' AS permalink
         FROM appstore_review WHERE app_id = '{V.APPSTORE_APP_ID}')
        UNION
        (SELECT 'Google Play', playstore_review_id, text, date, rating,
                app_version, thumbs_up, CAST(NULL AS VARCHAR),
                'https://play.google.com/store/apps/details?id=' || app_id
                  || '&reviewId=' || playstore_review_id
         FROM gplay_review WHERE app_id = '{V.GPLAY_APP_ID}')""")
    con.execute(f"""
        CREATE VIEW museum_review AS
        SELECT 'Google Maps' AS source,
               google_maps_review_id AS review_id, rating, text, post_date,
               permalink
        FROM google_maps_review WHERE place_id = '{V.GMAPS_PLACE_ID}'""")
    con.execute("""
        CREATE VIEW social_media_post AS
        WITH _smp AS (
            (SELECT CASE WHEN is_comment THEN 'Facebook Comment'
                         ELSE 'Facebook Post' END AS source,
                    a.post_id, a.text, a.post_date,
                    CAST(NULL AS VARCHAR) AS media_type, a.response_to,
                    CAST(NULL AS VARCHAR) AS user_id, a.is_from_museum,
                    r.likes, r.comments, r.shares, a.permalink
             FROM fb_post_all a
             LEFT JOIN fb_post_rich r ON a.post_id = r.fb_post_id)
            UNION
            (SELECT 'Instagram', ig_post_id, text, post_date, media_type,
                    NULL, NULL, TRUE, likes, comments, CAST(NULL AS INT),
                    permalink
             FROM ig_post_rich)
            UNION
            (SELECT 'Twitter', tweet_id, text, post_date, NULL, response_to,
                    user_id, is_from_museum, likes, replies, retweets,
                    permalink
             FROM tweet_rich)
        )
        SELECT *, (response_to IS NOT NULL) AS is_response FROM _smp""")
    con.execute("""
        CREATE VIEW post AS
        (SELECT source, review_id AS post_id, 'App Review' AS context, text,
                post_date, rating, FALSE AS is_from_museum,
                FALSE AS is_response, likes, CAST(NULL AS INT) AS comments,
                CAST(NULL AS INT) AS shares, permalink
         FROM app_review)
        UNION
        (SELECT source, review_id, 'Museum Review', text, post_date, rating,
                FALSE, FALSE, NULL, NULL, NULL, permalink
         FROM museum_review)
        UNION
        (SELECT source, post_id, 'Social Media', text, post_date,
                CAST(NULL AS INT), is_from_museum, is_response, likes,
                comments, shares, permalink
         FROM social_media_post)""")
    con.execute(r"""
        CREATE VIEW exhibition AS
        SELECT r.title, r.picture_url,
               CASE WHEN r.title = 'Schließtag / Closing Day'
                        THEN 'closing day'
                    WHEN r.title =
                        'Präsentationen zwischen den Ausstellungen'
                        THEN 'presentation' END AS special,
               CONCAT_WS(' ',
                   CASE WHEN (CASE WHEN r.title = 'Schließtag / Closing Day'
                                       THEN 'closing day'
                                   WHEN r.title = 'Präsentationen zwischen den Ausstellungen'
                                       THEN 'presentation' END) IS NULL
                        THEN CAST(year(f.first_start) AS VARCHAR) END,
                   COALESCE(NULLIF(regexp_extract(r.title,
                       '^(.*?\S)\s*[./-] ', 1), ''), r.title)
               ) AS short_title
        FROM exhibition_raw r
        LEFT JOIN (SELECT title, MIN(start_date) AS first_start
                   FROM exhibition_time GROUP BY title) f USING (title)""")
    con.execute(f"""
        CREATE VIEW exhibition_day AS
        SELECT d.date, t.title, e.short_title
        FROM (SELECT CAST(unnest(generate_series(
                  (SELECT MIN(start_date) FROM exhibition_time),
                  DATE '{TODAY}', INTERVAL 1 DAY)) AS DATE) AS date) d
        JOIN exhibition_time t ON d.date BETWEEN t.start_date AND t.end_date
        JOIN exhibition e USING (title)""")
    con.execute("""
        CREATE VIEW customer_characteristics AS
        WITH per_order AS (
            SELECT o.order_id, o.customer_id, SUM(oc.quantity) AS q,
                   SUM(oc.price) AS p
            FROM gomus_order o JOIN gomus_order_contains oc USING (order_id)
            GROUP BY o.order_id, o.customer_id),
        o_general AS (
            SELECT customer_id, CAST(COUNT(order_id) AS BIGINT) AS order_count,
                   CAST(SUM(q) AS BIGINT) AS ordered_article_count,
                   SUM(p) AS sum_order_price
            FROM per_order GROUP BY customer_id),
        ticket_qty AS (
            SELECT o.customer_id, oc.ticket, SUM(oc.quantity) AS cnt
            FROM gomus_customer c
            JOIN gomus_order o USING (customer_id)
            JOIN gomus_order_contains oc USING (order_id)
            GROUP BY o.customer_id, oc.ticket),
        o_common AS (
            SELECT customer_id, ticket AS most_common_ticket FROM (
                SELECT *, row_number() OVER (PARTITION BY customer_id
                    ORDER BY cnt DESC, ticket ASC) rn FROM ticket_qty)
            WHERE rn = 1),
        b_general AS (
            SELECT customer_id, CAST(COUNT(booking_id) AS BIGINT)
                       AS booking_count,
                   CAST(SUM(participants) AS BIGINT)
                       AS sum_booked_participants
            FROM gomus_customer JOIN gomus_booking USING (customer_id)
            GROUP BY customer_id),
        b_common_name AS (
            SELECT customer_id, title AS most_common_booking FROM (
                SELECT customer_id, title, COUNT(*) cnt,
                       row_number() OVER (PARTITION BY customer_id
                           ORDER BY COUNT(*) DESC, title ASC) rn
                FROM gomus_booking GROUP BY customer_id, title)
            WHERE rn = 1),
        b_common_category AS (
            SELECT customer_id, category AS most_common_booking_category
            FROM (
                SELECT customer_id, category, COUNT(*) cnt,
                       row_number() OVER (PARTITION BY customer_id
                           ORDER BY COUNT(*) DESC, category ASC) rn
                FROM gomus_booking GROUP BY customer_id, category)
            WHERE rn = 1),
        e_general AS (
            SELECT customer_id, CAST(COUNT(event_id) AS BIGINT)
                       AS event_count,
                   CAST(SUM(reservation_count) AS BIGINT)
                       AS sum_event_reservations
            FROM gomus_customer JOIN gomus_event USING (customer_id)
            GROUP BY customer_id),
        e_common_name AS (
            SELECT customer_id, title AS most_common_event FROM (
                SELECT ge.customer_id, b.title, ge.cnt,
                       row_number() OVER (PARTITION BY ge.customer_id
                           ORDER BY ge.cnt DESC, b.title ASC) rn
                FROM (SELECT customer_id, booking_id, COUNT(*) cnt
                      FROM gomus_event GROUP BY customer_id, booking_id) ge
                JOIN gomus_booking b USING (booking_id))
            WHERE rn = 1),
        e_common_category AS (
            SELECT customer_id, category AS most_common_event_category
            FROM (
                SELECT customer_id, category, COUNT(*) cnt,
                       row_number() OVER (PARTITION BY customer_id
                           ORDER BY COUNT(*) DESC, category ASC) rn
                FROM gomus_event GROUP BY customer_id, category)
            WHERE rn = 1)
        SELECT c.*, order_count, ordered_article_count, sum_order_price,
               booking_count, sum_booked_participants, event_count,
               sum_event_reservations, most_common_ticket,
               most_common_booking, most_common_event,
               most_common_booking_category, most_common_event_category,
               COALESCE(c.category = 'Reiseveranstalter'
                   OR c.category LIKE '%Hotel%' OR c.category = 'Verband'
                   OR c.category = 'Verein' OR c.category = 'Stiftung'
                   OR len(c.tourism_tags) > 0 OR booking_count > 1,
                   FALSE) AS is_tourism_specialist
        FROM gomus_customer c
        LEFT JOIN o_general USING (customer_id)
        LEFT JOIN o_common USING (customer_id)
        LEFT JOIN b_general USING (customer_id)
        LEFT JOIN b_common_name USING (customer_id)
        LEFT JOIN b_common_category USING (customer_id)
        LEFT JOIN e_general USING (customer_id)
        LEFT JOIN e_common_name USING (customer_id)
        LEFT JOIN e_common_category USING (customer_id)""")
    yield con
    con.close()


def _check(spark_df, oracle, view, name, int_cols=()):
    pdf = spark_df.toPandas()
    odf = oracle.execute(f"SELECT * FROM {view}").fetchdf()
    for c in int_cols:
        # nullable aggregates (LEFT-JOIN misses): align both to float64
        pdf[c] = pdf[c].astype("float64")
        odf[c] = odf[c].astype("float64")
    compare_frames(pdf, odf, name)


def test_fb_post_rich(tables, oracle):
    _check(V.fb_post_rich(tables), oracle, "fb_post_rich", "fb_post_rich")


def test_ig_post_rich(tables, oracle):
    _check(V.ig_post_rich(tables), oracle, "ig_post_rich", "ig_post_rich")


def test_tweet_rich(tables, oracle):
    _check(V.tweet_rich(tables), oracle, "tweet_rich", "tweet_rich")


def test_fb_post_all(tables, oracle):
    _check(V.fb_post_all(tables), oracle, "fb_post_all", "fb_post_all")


def test_app_review(tables, oracle):
    _check(V.app_review(tables), oracle, "app_review", "app_review")


def test_museum_review(tables, oracle):
    _check(V.museum_review(tables), oracle, "museum_review", "museum_review")


def test_social_media_post(tables, oracle):
    _check(V.social_media_post(tables), oracle, "social_media_post",
           "social_media_post")


def test_post(tables, oracle):
    _check(V.post(tables), oracle, "post", "post")


def test_exhibition(tables, oracle):
    _check(V.exhibition(tables), oracle, "exhibition", "exhibition")


def test_exhibition_day(tables, oracle):
    _check(V.exhibition_day(tables, TODAY), oracle, "exhibition_day",
           "exhibition_day")


def test_customer_characteristics(tables, oracle):
    _check(V.customer_characteristics(tables), oracle,
           "customer_characteristics", "customer_characteristics",
           int_cols=("order_count", "ordered_article_count", "booking_count",
                     "sum_booked_participants", "event_count",
                     "sum_event_reservations"))


def test_conform_rejects_unknown_columns(spark):
    df = spark.createDataFrame([("x", "y")], ["title", "bogus"])
    with pytest.raises(ValueError, match="bogus"):
        SC.conform(df, "exhibition_raw")


def test_check_constraints_capacity(spark):
    rows = [(1, dt.date(2024, 1, 1), 600, 10, 3, 2, 5, TS(2024, 1, 1)),
            (2, dt.date(2024, 1, 1), 600, 10, 3, 2, 99, TS(2024, 1, 1))]
    df = SC.conform(
        spark.createDataFrame(rows, [f.name for f in
                                     SC.schema("gomus_capacity").fields]),
        "gomus_capacity")
    bad = SC.check_constraints(df, "gomus_capacity").collect()
    assert [r.quota_id for r in bad] == [2]


def test_mode_from_counts_ignores_all_null_quantity_groups(spark):
    """A (customer, ticket) group whose quantities are all NULL sums to a
    NULL ``__cnt``; it must neither win the mode over a counted ticket
    (a struct minimum sorts NULL first) nor stand in as one."""
    from pyspark.sql import functions as F

    items = spark.createDataFrame(
        [(1, "A", None), (1, "A", None), (1, "B", 1),   # NULL group loses
         (2, "C", None),                                  # no counted ticket
         (3, "E", 2), (3, "D", 2)],                       # tie → smallest
        "customer_id long, ticket string, quantity long")
    counted = items.groupBy("customer_id", "ticket").agg(
        F.sum("quantity").alias("__cnt"))
    got = V._mode_from_counts(counted, "ticket", "most_common_ticket")
    assert sorted(map(tuple, got.collect())) == [(1, "B"), (3, "D")]
