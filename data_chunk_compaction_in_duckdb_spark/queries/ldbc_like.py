"""LDBC Social Network Benchmark corpus — all 31 queries the reference
ships (benchmark/ldbc/queries/: interactive-short-1..7,
interactive-complex-2..12, bi-1..11, bi-13, bi-14 over the SNB schema
of benchmark/ldbc/schema.sql).

Every query is ONE dialect-common SQL text run verbatim by BOTH engines
(spark.sql + DuckDB oracle).  The social graph derives deterministically
from the fixture:

- person = customer (names/birthday/gender/creationdate derived;
  located in a derived city of its nation);
- place = nation countries (ids 1000+n) containing 10 derived cities
  each (ids n*10+d) — the city→country containment bi-3/4/11/13/14
  traverse;
- knows = symmetric (+1, +7)-neighbor edges over customer, both
  directions materialized exactly as the reference's knows table;
- message = events with a bounded reply chain (m_c_replyof = previous
  event, roots every 4th) — posts carry forum/imagefile, comments
  don't, mirroring the post/comment UNION view of schema.sql;
- likes / forum / forum_person / tag (100) / tagclass (10-node tree) /
  message_tag / person_tag / organisation / person_company all derived
  with the same modulus discipline.

Parameter substitutions: person 21990232556256 → 42, message
687194767741 → 17, countries → NATION_* names, tag names → Tag_*,
tagclass → Class_*, 2010-2013 date bands → Jan-2024 bands (the events
span) — same constant-rescaling discipline as the other corpora.

Documented dialect/determinism deltas (each also noted per query):
- Spark does not yet support UNION (distinct) inside recursive CTEs
  (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), so bi-10's friends expansion
  runs UNION ALL with the hop bound and dedups in the follow-up CTE
  (same result: friends_shortest group-mins over all paths);
- ic-12's array_agg(DISTINCT ..) column is replaced by
  COUNT(DISTINCT ..) (set-valued cells hash differently per engine);
- ic-10's doubly-nested correlated NOT EXISTS inside a correlated
  scalar subquery is restructured as an equivalent LEFT JOIN sum of
  +1/-1 (Spark rejects outer references two subqueries deep);
- is-2's duplicate m_messageid output columns get distinct aliases
  (the driver hash pairs columns by name);
- inner ORDER BY ... LIMIT subselects gain a unique tiebreak column
  where the reference relied on unspecified tie order.

Scale: the graph CTEs are projections/derivations of the fixture scans
(no materialization step); every traversal is an equi-join on derived
integer keys; recursions are bounded (reply depth <= 3, tagclass tree
depth <= 4, friend hops <= 5 from a single start) so the iterative
plans converge in a fixed number of rounds at any SF.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from data_chunk_compaction_in_duckdb_spark.catalog import register_views
from data_chunk_compaction_in_duckdb_spark.queries.registry import query

_SNB = """snb_person AS (
  SELECT CAST(c_custkey AS BIGINT) AS p_personid,
         'First_' || CAST(c_custkey % 25 AS STRING) AS p_firstname,
         c_name AS p_lastname,
         make_date(1960 + CAST(c_custkey % 40 AS INT),
                   1 + CAST(c_custkey % 12 AS INT),
                   1 + CAST(c_custkey % 28 AS INT)) AS p_birthday,
         CASE WHEN c_custkey % 2 = 0 THEN 'male' ELSE 'female' END AS p_gender,
         CAST(c_nationkey * 10 + c_custkey % 10 AS BIGINT) AS p_placeid,
         CAST(make_date(2023, 1 + CAST(c_custkey % 12 AS INT),
                        1 + CAST(c_custkey % 28 AS INT)) AS TIMESTAMP)
           AS p_creationdate
  FROM customer),
snb_knows_half AS (
  SELECT c1.c_custkey AS a, c2.c_custkey AS b
  FROM customer c1 JOIN customer c2 ON c2.c_custkey = c1.c_custkey + 1
  UNION ALL
  SELECT c1.c_custkey AS a, c2.c_custkey AS b
  FROM customer c1 JOIN customer c2 ON c2.c_custkey = c1.c_custkey + 7
  UNION ALL
  -- the +8 offset closes (+1, +7) into triangles: without it the graph
  -- is triangle-free and bi-11 counts zero at every SF
  SELECT c1.c_custkey AS a, c2.c_custkey AS b
  FROM customer c1 JOIN customer c2 ON c2.c_custkey = c1.c_custkey + 8),
snb_knows AS (
  SELECT CAST(a AS BIGINT) AS k_person1id, CAST(b AS BIGINT) AS k_person2id,
         CAST(make_date(2023, 1 + CAST((a + b) % 12 AS INT),
                        1 + CAST((a + b) % 28 AS INT)) AS TIMESTAMP)
           AS k_creationdate
  FROM snb_knows_half
  UNION ALL
  SELECT CAST(b AS BIGINT), CAST(a AS BIGINT),
         CAST(make_date(2023, 1 + CAST((a + b) % 12 AS INT),
                        1 + CAST((a + b) % 28 AS INT)) AS TIMESTAMP)
  FROM snb_knows_half),
snb_message AS (
  SELECT CAST(event_id AS BIGINT) AS m_messageid,
         ts AS m_creationdate,
         CASE WHEN event_id % 4 = 0 THEN NULL
              ELSE CAST(event_id - 1 AS BIGINT) END AS m_c_replyof,
         CAST(user_id AS BIGINT) AS m_creatorid,
         CAST(ROUND(value * 2) AS BIGINT) AS m_length,
         CASE WHEN event_id % 20 = 0
              THEN 'img_' || CAST(event_id AS STRING) ELSE NULL END
           AS m_ps_imagefile,
         CASE WHEN event_id % 20 = 0 THEN NULL
              ELSE 'content_' || CAST(event_id AS STRING) END AS m_content,
         CASE WHEN event_id % 4 = 0 THEN CAST(user_id % 50 AS BIGINT)
              ELSE NULL END AS m_ps_forumid,
         CAST(event_id % 250 AS BIGINT) AS m_locationid
  FROM events),
snb_likes AS (
  SELECT CAST((user_id + 13) % 150 AS BIGINT) AS l_personid,
         CAST(event_id AS BIGINT) AS l_messageid,
         ts + INTERVAL 1 HOUR AS l_creationdate
  FROM events WHERE event_id % 3 <> 0),
snb_forum AS (
  SELECT DISTINCT CAST(c_custkey % 50 AS BIGINT) AS f_forumid,
         'Forum_' || CAST(c_custkey % 50 AS STRING) AS f_title,
         CAST((c_custkey % 50) * 2 AS BIGINT) AS f_moderatorid,
         CAST(make_date(2022, 1 + CAST(c_custkey % 50 % 12 AS INT),
                        1 + CAST(c_custkey % 50 % 28 AS INT)) AS TIMESTAMP)
           AS f_creationdate
  FROM customer),
snb_forum_person AS (
  SELECT CAST(c_custkey AS BIGINT) AS fp_personid,
         CAST(c_custkey % 50 AS BIGINT) AS fp_forumid,
         CAST(make_date(2023, 1 + CAST(c_custkey % 12 AS INT), 1)
              AS TIMESTAMP) AS fp_creationdate
  FROM customer
  UNION ALL
  SELECT CAST(c_custkey AS BIGINT),
         CAST((c_custkey + 17) % 50 AS BIGINT),
         CAST(make_date(2024, 1 + CAST(c_custkey % 6 AS INT), 15)
              AS TIMESTAMP)
  FROM customer),
snb_tag AS (
  SELECT CAST(p_partkey AS BIGINT) AS t_tagid,
         'Tag_' || CAST(p_partkey AS STRING) AS t_name,
         CAST(p_partkey % 10 AS BIGINT) AS t_tagclassid
  FROM part WHERE p_partkey < 100),
snb_tagclass AS (
  SELECT DISTINCT CAST(p_partkey % 10 AS BIGINT) AS tc_tagclassid,
         'Class_' || CAST(p_partkey % 10 AS STRING) AS tc_name,
         CASE WHEN p_partkey % 10 = 0 THEN NULL
              ELSE CAST((p_partkey % 10 - 1) % 5 AS BIGINT) END
           AS tc_subclassoftagclassid
  FROM part),
snb_message_tag AS (
  SELECT DISTINCT mt_messageid, mt_tagid FROM (
    SELECT CAST(event_id AS BIGINT) AS mt_messageid,
           CAST(event_id % 100 AS BIGINT) AS mt_tagid FROM events
    UNION ALL
    SELECT CAST(event_id AS BIGINT),
           CAST((event_id * 7 + 3) % 100 AS BIGINT)
    FROM events WHERE event_id % 2 = 0) u),
snb_person_tag AS (
  SELECT CAST(c_custkey AS BIGINT) AS pt_personid,
         CAST(c_custkey % 100 AS BIGINT) AS pt_tagid FROM customer
  UNION
  SELECT CAST(c_custkey AS BIGINT),
         CAST((c_custkey * 3 + 7) % 100 AS BIGINT) FROM customer),
snb_place AS (
  SELECT CAST(1000 + n_nationkey AS BIGINT) AS pl_placeid,
         n_name AS pl_name, CAST(NULL AS BIGINT) AS pl_containerplaceid
  FROM nation
  UNION ALL
  SELECT CAST(n_nationkey * 10 + d.d AS BIGINT),
         'CITY_' || CAST(n_nationkey * 10 + d.d AS STRING),
         CAST(1000 + n_nationkey AS BIGINT)
  FROM nation CROSS JOIN (
    SELECT 0 AS d UNION ALL SELECT 1 UNION ALL SELECT 2 UNION ALL
    SELECT 3 UNION ALL SELECT 4 UNION ALL SELECT 5 UNION ALL
    SELECT 6 UNION ALL SELECT 7 UNION ALL SELECT 8 UNION ALL SELECT 9) d),
snb_organisation AS (
  SELECT CAST(s_suppkey AS BIGINT) AS o_organisationid, s_name AS o_name,
         CAST(s_nationkey * 10 AS BIGINT) AS o_placeid
  FROM supplier),
snb_person_company AS (
  SELECT CAST(c_custkey AS BIGINT) AS pc_personid,
         CAST(c_custkey % 10 AS BIGINT) AS pc_organisationid,
         2000 + CAST(c_custkey % 20 AS INT) AS pc_workfrom
  FROM customer)"""

# Spark-side SNB text (r10): two dedups in the shared CTEs are provable
# VALUE no-ops, and dropping them on the Spark side removes one full
# events-scale shuffle per reference (bi10 derives snb_message_tag
# twice: DISTINCT 0.36 s vs plain 0.14 s med per derivation at sf0.1).
# The DuckDB oracle keeps the original text with the dedups, so the
# driver gate value-checks the equivalence at every SF.
#
# Proof the dedups are no-ops (pure modular arithmetic + key
# uniqueness, independent of SF):
# - snb_message_tag = DISTINCT over (event_id, event_id % 100)  UNION
#   ALL  (event_id, (event_id*7 + 3) % 100) [even event_id only].
#   event_id is unique in events (asserted by
#   tests/test_ldbc_corpus.py::test_snb_spark_dedup_noop), so
#   within-branch duplicates are impossible; a cross-branch duplicate
#   needs id % 100 == (7*id + 3) % 100, i.e. 3*(2*id + 1) ≡ 0 (mod
#   100); gcd(3, 100) = 1 so 2*id + 1 ≡ 0 (mod 100) — an odd number
#   cannot be ≡ 0 mod 100.  No collision at any SF.
# - snb_person_tag = (c_custkey, c_custkey % 100)  UNION (distinct)
#   (c_custkey, (c_custkey*3 + 7) % 100).  c_custkey is unique, and a
#   cross-branch duplicate needs 2*c + 7 ≡ 0 (mod 100): even ≡ odd,
#   impossible.  UNION therefore equals UNION ALL.
_SNB_SPARK = _SNB.replace(
    "SELECT DISTINCT mt_messageid, mt_tagid FROM (",
    "SELECT mt_messageid, mt_tagid FROM (",
    1,
)
_SNB_SPARK = _SNB_SPARK.replace(
    """ FROM customer
  UNION
  SELECT """,
    """ FROM customer
  UNION ALL
  SELECT """,
    1,
)
# snb_place's city rows: `nation CROSS JOIN (10-row UNION ALL)` plans as
# a BroadcastNestedLoopJoin with its own broadcast-build job per
# reference; `LATERAL VIEW explode(sequence(0, 9))` is a Generate node —
# no join, no build job — and trivially produces the same ten digits
# (interleaved A/B, OPTIMIZATION_r10.md §11: bi10 med 2.10 -> 1.81 s,
# bi14 2.30 -> 2.03 s; multiset-identical results; the oracle keeps the
# original CROSS JOIN text).
_SNB_SPARK = _SNB_SPARK.replace(
    """FROM nation CROSS JOIN (
    SELECT 0 AS d UNION ALL SELECT 1 UNION ALL SELECT 2 UNION ALL
    SELECT 3 UNION ALL SELECT 4 UNION ALL SELECT 5 UNION ALL
    SELECT 6 UNION ALL SELECT 7 UNION ALL SELECT 8 UNION ALL SELECT 9) d)""",
    "FROM nation LATERAL VIEW explode(sequence(0, 9)) d AS d)",
    1,
)


def _check_snb_spark(spark_text: str, oracle_text: str) -> str:
    """``spark_text`` if every Spark-side rewrite above applied, else
    ValueError — ``str.replace`` matches nothing silently when the
    oracle text drifts, and an explicit raise (unlike ``assert``) also
    guards under ``python -O``."""
    if spark_text.count("DISTINCT") != oracle_text.count("DISTINCT") - 1:
        raise ValueError("SNB Spark text: snb_message_tag DISTINCT not dropped")
    if "\n  UNION\n" in spark_text:
        raise ValueError("SNB Spark text: snb_person_tag UNION not rewritten")
    if "LATERAL VIEW explode" not in spark_text or "CROSS JOIN" in spark_text:
        raise ValueError("SNB Spark text: snb_place CROSS JOIN not rewritten")
    return spark_text


_SNB_SPARK = _check_snb_spark(_SNB_SPARK, _SNB)

# name -> (description, needs_recursive, SELECT body)
_QUERIES: dict[str, tuple[str, bool, str]] = {}


def _q(name: str, desc: str, body: str, recursive: bool = False) -> None:
    _QUERIES[name] = (desc, recursive, body)


_q("ldbc_is01", "interactive-short-1: person profile point lookup",
   "SELECT p_firstname, p_lastname, p_birthday, p_gender, p_placeid, "
   "p_creationdate FROM snb_person WHERE p_personid = 42")

_q("ldbc_is02", "interactive-short-2: person's last posts walked up to "
   "their root posts (recursive parent chain; duplicate-name columns "
   "aliased apart)",
   """cposts AS (
      SELECT m_messageid, m_content, m_ps_imagefile, m_creationdate,
             m_c_replyof, m_creatorid
      FROM snb_message WHERE m_creatorid = 42
      ORDER BY m_creationdate DESC, m_messageid DESC LIMIT 10),
    parent(postid, replyof, orig_postid, creator) AS (
      SELECT m_messageid, m_c_replyof, m_messageid, m_creatorid FROM cposts
      UNION ALL
      SELECT m.m_messageid, m.m_c_replyof, p.orig_postid, m.m_creatorid
      FROM snb_message m, parent p WHERE m.m_messageid = p.replyof)
    SELECT p1.m_messageid AS msg_id,
           COALESCE(p1.m_ps_imagefile, '') || COALESCE(p1.m_content, '')
             AS content,
           p1.m_creationdate AS msg_creationdate,
           p2.root_id AS orig_post_id, p2.p_personid, p2.p_firstname,
           p2.p_lastname
    FROM (SELECT m_messageid, m_content, m_ps_imagefile, m_creationdate
          FROM cposts) p1
    LEFT JOIN (SELECT pr.orig_postid, pr.postid AS root_id, pe.p_personid,
                      pe.p_firstname, pe.p_lastname
               FROM parent pr, snb_person pe
               WHERE pr.replyof IS NULL AND pr.creator = pe.p_personid) p2
      ON p2.orig_postid = p1.m_messageid
    ORDER BY p1.m_creationdate DESC, p2.root_id DESC""",
   recursive=True)

_q("ldbc_is03", "interactive-short-3: person's friends newest-first",
   "SELECT p_personid, p_firstname, p_lastname, k_creationdate "
   "FROM snb_knows, snb_person "
   "WHERE k_person1id = 42 AND k_person2id = p_personid "
   "ORDER BY k_creationdate DESC, p_personid ASC")

_q("ldbc_is04", "interactive-short-4: message content point lookup",
   "SELECT COALESCE(m_ps_imagefile, '') || COALESCE(m_content, '') "
   "AS content, m_creationdate FROM snb_message WHERE m_messageid = 17")

_q("ldbc_is05", "interactive-short-5: message's creator",
   "SELECT p_personid, p_firstname, p_lastname FROM snb_message, snb_person "
   "WHERE m_messageid = 17 AND m_creatorid = p_personid")

_q("ldbc_is06", "interactive-short-6: forum + moderator of a message's "
   "root post (recursive parent walk)",
   """chain(parent, child) AS (
      SELECT m_c_replyof, m_messageid FROM snb_message WHERE m_messageid = 17
      UNION ALL
      SELECT p.m_c_replyof, p.m_messageid
      FROM snb_message p, chain c WHERE p.m_messageid = c.parent)
    SELECT f_forumid, f_title, p_personid, p_firstname, p_lastname
    FROM snb_message, snb_person, snb_forum
    WHERE m_messageid = (SELECT COALESCE(MIN(parent), 17) FROM chain
                         WHERE parent IS NOT NULL)
      AND m_ps_forumid = f_forumid AND f_moderatorid = p_personid""",
   recursive=True)

_q("ldbc_is07", "interactive-short-7: replies to a message with "
   "knows-flag (EXISTS folded into a LEFT JOIN for Spark's projection "
   "rules)",
   """SELECT p2.m_messageid, p2.m_content, p2.m_creationdate, p_personid,
           p_firstname, p_lastname,
           CASE WHEN kf.k_person1id IS NOT NULL THEN TRUE ELSE FALSE END
             AS knows_flag
    FROM snb_message p1
    JOIN snb_message p2 ON p2.m_c_replyof = p1.m_messageid
    JOIN snb_person ON p2.m_creatorid = p_personid
    LEFT JOIN (SELECT DISTINCT k_person1id, k_person2id FROM snb_knows) kf
      ON p1.m_creatorid = kf.k_person1id AND p2.m_creatorid = kf.k_person2id
    WHERE p1.m_messageid = 17
    ORDER BY p2.m_creationdate DESC, p2.m_creatorid ASC""")

_q("ldbc_ic02", "interactive-complex-2: friends' recent messages",
   "SELECT p_personid, p_firstname, p_lastname, m_messageid, "
   "COALESCE(m_ps_imagefile, m_content, '') AS content, m_creationdate "
   "FROM snb_person, snb_message, snb_knows "
   "WHERE p_personid = m_creatorid "
   "AND m_creationdate < TIMESTAMP '2024-01-20 00:00:00' "
   "AND k_person1id = 42 AND k_person2id = p_personid "
   "ORDER BY m_creationdate DESC, m_messageid ASC LIMIT 20")

_q("ldbc_ic03", "interactive-complex-3: friends+FoF posting from both "
   "of two countries, in neither country themselves",
   """SELECT p_personid, p_firstname, p_lastname, ct1, ct2, total
    FROM (SELECT k_person2id FROM snb_knows WHERE k_person1id = 42
          UNION
          SELECT k2.k_person2id FROM snb_knows k1, snb_knows k2
          WHERE k1.k_person1id = 42 AND k1.k_person2id = k2.k_person1id
            AND k2.k_person2id <> 42) f,
         snb_person, snb_place p1, snb_place p2,
         (SELECT chn.m_c_creatorid, ct1, ct2, ct1 + ct2 AS total
          FROM (SELECT m_creatorid AS m_c_creatorid, COUNT(*) AS ct1
                FROM snb_message, snb_place
                WHERE m_locationid = pl_placeid
                  AND pl_containerplaceid = 1002
                  AND m_creationdate >= TIMESTAMP '2024-01-05 00:00:00'
                  AND m_creationdate < TIMESTAMP '2024-01-25 00:00:00'
                GROUP BY m_creatorid) chn,
               (SELECT m_creatorid AS m_c_creatorid, COUNT(*) AS ct2
                FROM snb_message, snb_place
                WHERE m_locationid = pl_placeid
                  AND pl_containerplaceid = 1004
                  AND m_creationdate >= TIMESTAMP '2024-01-05 00:00:00'
                  AND m_creationdate < TIMESTAMP '2024-01-25 00:00:00'
                GROUP BY m_creatorid) ind
          WHERE chn.m_c_creatorid = ind.m_c_creatorid) cpc
    WHERE f.k_person2id = p_personid AND p_placeid = p1.pl_placeid
      AND p1.pl_containerplaceid = p2.pl_placeid
      AND p2.pl_name <> 'NATION_2' AND p2.pl_name <> 'NATION_4'
      AND f.k_person2id = cpc.m_c_creatorid
    ORDER BY 6 DESC, 1 LIMIT 20""")

_q("ldbc_ic04", "interactive-complex-4: new topics in friends' posts "
   "(tags present in-window, absent before)",
   """SELECT t_name, COUNT(*) AS n
    FROM snb_tag, snb_message, snb_message_tag recent, snb_knows
    WHERE m_messageid = recent.mt_messageid AND recent.mt_tagid = t_tagid
      AND m_creatorid = k_person2id AND m_c_replyof IS NULL
      AND k_person1id = 42
      AND m_creationdate >= TIMESTAMP '2024-01-10 00:00:00'
      AND m_creationdate < TIMESTAMP '2024-01-25 00:00:00'
      AND NOT EXISTS (
        SELECT * FROM
          (SELECT DISTINCT mt.mt_tagid
           FROM snb_message m2, snb_message_tag mt, snb_knows k2
           WHERE k2.k_person1id = 42 AND k2.k_person2id = m2.m_creatorid
             AND m2.m_c_replyof IS NULL AND mt.mt_messageid = m2.m_messageid
             AND m2.m_creationdate < TIMESTAMP '2024-01-10 00:00:00') tags
        WHERE tags.mt_tagid = recent.mt_tagid)
    GROUP BY t_name ORDER BY 2 DESC, t_name LIMIT 10""")

_q("ldbc_ic05", "interactive-complex-5: new forum memberships of "
   "friends+FoF, counting their posts there",
   """SELECT f_title, COUNT(m_messageid) AS n
    FROM (SELECT f_title, f_forumid, f.k_person2id
          FROM snb_forum, snb_forum_person,
               (SELECT k_person2id FROM snb_knows WHERE k_person1id = 42
                UNION
                SELECT k2.k_person2id FROM snb_knows k1, snb_knows k2
                WHERE k1.k_person1id = 42
                  AND k1.k_person2id = k2.k_person1id
                  AND k2.k_person2id <> 42) f
          WHERE f_forumid = fp_forumid AND fp_personid = f.k_person2id
            AND fp_creationdate >= TIMESTAMP '2024-01-01 00:00:00') tmp
    LEFT JOIN snb_message
      ON tmp.f_forumid = m_ps_forumid AND m_creatorid = tmp.k_person2id
    GROUP BY f_forumid, f_title ORDER BY 2 DESC, f_forumid LIMIT 20""")

_q("ldbc_ic06", "interactive-complex-6: tags co-occurring with a given "
   "tag on friends+FoF posts",
   """SELECT t_name, COUNT(*) AS n
    FROM snb_tag, snb_message_tag, snb_message,
         (SELECT k_person2id FROM snb_knows WHERE k_person1id = 42
          UNION
          SELECT k2.k_person2id FROM snb_knows k1, snb_knows k2
          WHERE k1.k_person1id = 42 AND k1.k_person2id = k2.k_person1id
            AND k2.k_person2id <> 42) f
    WHERE m_creatorid = f.k_person2id AND m_c_replyof IS NULL
      AND m_messageid = snb_message_tag.mt_messageid
      AND snb_message_tag.mt_tagid = t_tagid AND t_name <> 'Tag_7'
      AND EXISTS (SELECT * FROM snb_tag t2, snb_message_tag mt2
                  WHERE mt2.mt_messageid = m_messageid
                    AND mt2.mt_tagid = t2.t_tagid AND t2.t_name = 'Tag_7')
    GROUP BY t_name ORDER BY 2 DESC, t_name LIMIT 10""")

_q("ldbc_ic07", "interactive-complex-7: most recent likers of the "
   "person's messages (inner top-20 given a unique tiebreak)",
   """SELECT p_personid, p_firstname, p_lastname,
           l.l_creationdate, m_messageid,
           COALESCE(m_ps_imagefile, '') || COALESCE(m_content, '')
             AS content,
           0 AS lag,
           CASE WHEN EXISTS (SELECT 1 FROM snb_knows
                             WHERE k_person1id = 42
                               AND k_person2id = p_personid)
                THEN 0 ELSE 1 END AS isnew
    FROM (SELECT l_personid, MAX(l_creationdate) AS l_creationdate
          FROM snb_likes, snb_message
          WHERE m_messageid = l_messageid AND m_creatorid = 42
          GROUP BY l_personid
          ORDER BY 2 DESC, l_personid LIMIT 20) tmp,
         snb_message, snb_person, snb_likes l
    WHERE p_personid = tmp.l_personid AND tmp.l_personid = l.l_personid
      AND tmp.l_creationdate = l.l_creationdate
      AND l.l_messageid = m_messageid
    ORDER BY 4 DESC, 1""")

_q("ldbc_ic08", "interactive-complex-8: recent replies to the person's "
   "messages",
   "SELECT p1.m_creatorid, p_firstname, p_lastname, p1.m_creationdate, "
   "p1.m_messageid, p1.m_content "
   "FROM snb_message p1, snb_message p2, snb_person "
   "WHERE p1.m_c_replyof = p2.m_messageid AND p2.m_creatorid = 42 "
   "AND p_personid = p1.m_creatorid "
   "ORDER BY p1.m_creationdate DESC, 5 LIMIT 20")

_q("ldbc_ic09", "interactive-complex-9: recent messages by friends+FoF",
   """SELECT p_personid, p_firstname, p_lastname, m_messageid,
           COALESCE(m_ps_imagefile, '') || COALESCE(m_content, '')
             AS content,
           m_creationdate
    FROM (SELECT k_person2id FROM snb_knows WHERE k_person1id = 42
          UNION
          SELECT k2.k_person2id FROM snb_knows k1, snb_knows k2
          WHERE k1.k_person1id = 42 AND k1.k_person2id = k2.k_person1id
            AND k2.k_person2id <> 42) f, snb_person, snb_message
    WHERE p_personid = m_creatorid AND p_personid = f.k_person2id
      AND m_creationdate < TIMESTAMP '2024-01-25 00:00:00'
    ORDER BY m_creationdate DESC, m_messageid ASC LIMIT 20""")

_q("ldbc_ic10", "interactive-complex-10: friend-of-friend "
   "recommendations by common-tag post score (nested correlated "
   "scalars restructured as a LEFT JOIN +1/-1 sum)",
   """SELECT p_personid, p_firstname, p_lastname,
           COALESCE(sc.score, 0) AS score, p_gender, pl_name
    FROM snb_person, snb_place,
         (SELECT DISTINCT k2.k_person2id
          FROM snb_knows k1, snb_knows k2
          WHERE k1.k_person1id = 42 AND k1.k_person2id = k2.k_person1id
            AND k2.k_person2id <> 42
            AND NOT EXISTS (SELECT * FROM snb_knows
                            WHERE k_person1id = 42
                              AND k_person2id = k2.k_person2id)) f
    LEFT JOIN (
      SELECT m_creatorid,
             CAST(SUM(CASE WHEN ct.mt_messageid IS NOT NULL THEN 1
                           ELSE -1 END) AS BIGINT) AS score
      FROM snb_message
      LEFT JOIN (SELECT DISTINCT mt.mt_messageid
                 FROM snb_message_tag mt
                 JOIN snb_person_tag pt ON mt.mt_tagid = pt.pt_tagid
                 WHERE pt.pt_personid = 42) ct
        ON ct.mt_messageid = m_messageid
      WHERE m_c_replyof IS NULL
      GROUP BY m_creatorid) sc ON sc.m_creatorid = f.k_person2id
    WHERE p_placeid = pl_placeid AND p_personid = f.k_person2id
      AND ((extract(month FROM p_birthday) = 3
            AND extract(day FROM p_birthday) >= 21)
        OR (extract(month FROM p_birthday) = 4
            AND extract(day FROM p_birthday) < 22))
    ORDER BY score DESC, p_personid LIMIT 10""")

_q("ldbc_ic11", "interactive-complex-11: friends+FoF working in a "
   "country's companies",
   """SELECT p_personid, p_firstname, p_lastname, o_name, pc_workfrom
    FROM snb_person, snb_person_company, snb_organisation, snb_place,
         (SELECT k_person2id FROM snb_knows WHERE k_person1id = 42
          UNION
          SELECT k2.k_person2id FROM snb_knows k1, snb_knows k2
          WHERE k1.k_person1id = 42 AND k1.k_person2id = k2.k_person1id
            AND k2.k_person2id <> 42) f
    WHERE p_personid = f.k_person2id AND p_personid = pc_personid
      AND pc_organisationid = o_organisationid AND pc_workfrom < 2012
      AND o_placeid = pl_placeid AND pl_containerplaceid <= 1012
    ORDER BY pc_workfrom, p_personid, o_name DESC LIMIT 10""")

_q("ldbc_ic12", "interactive-complex-12: expert replies under a tag "
   "class subtree (recursive class closure; array_agg(DISTINCT) -> "
   "COUNT(DISTINCT))",
   """extended_tags(s_subtagclassid, s_supertagclassid) AS (
      SELECT tc_tagclassid, tc_tagclassid FROM snb_tagclass
      UNION ALL
      SELECT tc.tc_tagclassid, t.s_supertagclassid
      FROM snb_tagclass tc, extended_tags t
      WHERE tc.tc_subclassoftagclassid = t.s_subtagclassid)
    SELECT p_personid, p_firstname, p_lastname,
           COUNT(DISTINCT t_name) AS distinct_tags, COUNT(*) AS n
    FROM snb_person, snb_message p1, snb_knows, snb_message p2,
         snb_message_tag,
         (SELECT DISTINCT t_tagid, t_name FROM snb_tag
          WHERE t_tagclassid IN (
            SELECT DISTINCT s_subtagclassid
            FROM extended_tags k, snb_tagclass
            WHERE tc_tagclassid = k.s_supertagclassid
              AND tc_name = 'Class_3')) selected_tags
    WHERE k_person1id = 42 AND k_person2id = p_personid
      AND p_personid = p1.m_creatorid
      AND p1.m_c_replyof = p2.m_messageid AND p2.m_c_replyof IS NULL
      AND p2.m_messageid = mt_messageid AND mt_tagid = t_tagid
    GROUP BY p_personid, p_firstname, p_lastname
    ORDER BY 5 DESC, 1 LIMIT 20""",
   recursive=True)

_q("ldbc_bi01", "bi-1: posting summary by year/type/length bucket",
   """message_count AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS cnt FROM snb_message
      WHERE m_creationdate < TIMESTAMP '2024-01-25 00:00:00'),
    message_prep AS (
      SELECT extract(year FROM m_creationdate) AS messageYear,
             m_c_replyof IS NOT NULL AS isComment,
             CASE WHEN m_length < 40 THEN 0
                  WHEN m_length < 80 THEN 1
                  WHEN m_length < 160 THEN 2
                  ELSE 3 END AS lengthCategory,
             m_length
      FROM snb_message
      WHERE m_creationdate < TIMESTAMP '2024-01-25 00:00:00'
        AND m_ps_imagefile IS NULL)
    SELECT messageYear, isComment, lengthCategory,
           COUNT(*) AS messageCount,
           CAST(SUM(m_length) AS DOUBLE) / COUNT(*)
             AS averageMessageLength,
           CAST(SUM(m_length) AS BIGINT) AS sumMessageLength,
           COUNT(*) / mc.cnt AS percentageOfMessages
    FROM message_prep, message_count mc
    GROUP BY messageYear, isComment, lengthCategory, mc.cnt
    ORDER BY messageYear DESC, isComment ASC, lengthCategory ASC""")

_q("ldbc_bi02", "bi-2: tag evolution between two windows",
   """detail AS (
      SELECT t.t_name,
             COUNT(DISTINCT CASE WHEN extract(day FROM m.m_creationdate)
                                      <= 15 THEN m.m_messageid
                            ELSE NULL END) AS countWindow1,
             COUNT(DISTINCT CASE WHEN extract(day FROM m.m_creationdate)
                                      > 15 THEN m.m_messageid
                            ELSE NULL END) AS countWindow2
      FROM snb_message m, snb_message_tag mt, snb_tag t
      WHERE m.m_messageid = mt.mt_messageid AND mt.mt_tagid = t.t_tagid
        AND m.m_creationdate >= TIMESTAMP '2024-01-01 00:00:00'
        AND m.m_creationdate < TIMESTAMP '2024-01-31 00:00:00'
      GROUP BY t.t_name)
    SELECT t_name, countWindow1, countWindow2,
           abs(countWindow1 - countWindow2) AS diff
    FROM detail ORDER BY diff DESC, t_name LIMIT 100""")

_q("ldbc_bi03", "bi-3: popular forum topics of a tag class in a country",
   """SELECT f.f_forumid, f.f_title, f.f_creationdate, f.f_moderatorid,
           COUNT(DISTINCT p.m_messageid) AS postCount
    FROM snb_tagclass tc, snb_tag t, snb_message_tag pt, snb_message p,
         snb_forum f, snb_person m, snb_place ci, snb_place co
    WHERE tc.tc_tagclassid = t.t_tagclassid AND t.t_tagid = pt.mt_tagid
      AND pt.mt_messageid = p.m_messageid AND p.m_ps_forumid = f.f_forumid
      AND f.f_moderatorid = m.p_personid AND m.p_placeid = ci.pl_placeid
      AND ci.pl_containerplaceid = co.pl_placeid
      AND tc.tc_name = 'Class_3' AND co.pl_name = 'NATION_5'
    GROUP BY f.f_forumid, f.f_title, f.f_creationdate, f.f_moderatorid
    ORDER BY postCount DESC, f.f_forumid LIMIT 20""")

_q("ldbc_bi04", "bi-4: top posters in the top-100 forums of a country",
   """top100_popular_forums AS (
      SELECT fp_forumid AS forumid
      FROM snb_forum_person fp, snb_person p, snb_place ci, snb_place co
      WHERE fp.fp_personid = p.p_personid AND p.p_placeid = ci.pl_placeid
        AND ci.pl_containerplaceid = co.pl_placeid
        AND co.pl_name = 'NATION_8'
      GROUP BY fp_forumid ORDER BY COUNT(*) DESC, fp_forumid LIMIT 100)
    SELECT au.p_personid, au.p_firstname, au.p_lastname,
           au.p_creationdate, COUNT(DISTINCT p.m_messageid) AS postCount
    FROM top100_popular_forums t
    INNER JOIN snb_forum_person fp ON t.forumid = fp.fp_forumid
    INNER JOIN snb_person au ON fp.fp_personid = au.p_personid
    LEFT JOIN snb_message p
      ON au.p_personid = p.m_creatorid
     AND p.m_ps_forumid IN (SELECT forumid FROM top100_popular_forums)
     AND p.m_c_replyof IS NULL
    GROUP BY au.p_personid, au.p_firstname, au.p_lastname,
             au.p_creationdate
    ORDER BY postCount DESC, au.p_personid LIMIT 100""")

_q("ldbc_bi05", "bi-5: most active posters on a tag (reply/like/message "
   "counts with a weighted score)",
   """detail AS (
      SELECT cr.p_personid AS person_id,
             COUNT(DISTINCT r.m_messageid) AS replyCount,
             COUNT(DISTINCT l.l_messageid || ' ' || l.l_personid)
               AS likeCount,
             COUNT(DISTINCT m.m_messageid) AS messageCount
      FROM snb_tag t, snb_message_tag pt,
           snb_message m
           LEFT JOIN snb_message r ON m.m_messageid = r.m_c_replyof
           LEFT JOIN snb_likes l ON m.m_messageid = l.l_messageid,
           snb_person cr
      WHERE t.t_tagid = pt.mt_tagid AND pt.mt_messageid = m.m_messageid
        AND m.m_creatorid = cr.p_personid AND t.t_name = 'Tag_11'
      GROUP BY cr.p_personid)
    SELECT person_id, replyCount, likeCount, messageCount,
           1 * messageCount + 2 * replyCount + 10 * likeCount AS score
    FROM detail ORDER BY score DESC, person_id LIMIT 100""")

_q("ldbc_bi06", "bi-6: authority score (sum of likers' own popularity)",
   """poster_w_liker AS (
      SELECT DISTINCT m1.m_creatorid AS posterPersonid,
             l2.l_personid AS likerPersonid
      FROM snb_tag t, snb_message_tag pt,
           snb_message m1 LEFT JOIN snb_likes l2
             ON m1.m_messageid = l2.l_messageid
      WHERE t.t_tagid = pt.mt_tagid AND pt.mt_messageid = m1.m_messageid
        AND t.t_name = 'Tag_23'),
    popularity_score AS (
      SELECT m3.m_creatorid AS personid, COUNT(*) AS popularityScore
      FROM snb_message m3, snb_likes l3
      WHERE m3.m_messageid = l3.l_messageid GROUP BY m3.m_creatorid)
    SELECT pl.posterPersonid,
           CAST(SUM(COALESCE(ps.popularityScore, 0)) AS BIGINT)
             AS authorityScore
    FROM poster_w_liker pl
    LEFT JOIN popularity_score ps ON pl.likerPersonid = ps.personid
    GROUP BY pl.posterPersonid
    ORDER BY authorityScore DESC, pl.posterPersonid ASC LIMIT 100""")

_q("ldbc_bi07", "bi-7: related topics (tags of replies that drop the "
   "original tag; anti via null-filtered LEFT JOIN)",
   """SELECT t2.t_name, COUNT(*) AS n
    FROM snb_tag t
    INNER JOIN snb_message_tag pt ON t.t_tagid = pt.mt_tagid
    INNER JOIN snb_message c ON pt.mt_messageid = c.m_c_replyof
    INNER JOIN snb_message_tag ct ON c.m_messageid = ct.mt_messageid
    INNER JOIN snb_tag t2 ON ct.mt_tagid = t2.t_tagid
    LEFT JOIN snb_message_tag nt
      ON c.m_messageid = nt.mt_messageid AND nt.mt_tagid = pt.mt_tagid
    WHERE nt.mt_messageid IS NULL AND t.t_name = 'Tag_42'
    GROUP BY t2.t_name ORDER BY n DESC, t2.t_name LIMIT 100""")

_q("ldbc_bi08", "bi-8: central person for a tag (interest + message "
   "score, FULL JOIN merge, friend-score sum)",
   """person_tag_interest AS (
      SELECT p.p_personid AS personid
      FROM snb_person p, snb_person_tag pt, snb_tag t
      WHERE p.p_personid = pt.pt_personid AND pt.pt_tagid = t.t_tagid
        AND t.t_name = 'Tag_9'),
    person_message_score AS (
      SELECT p.p_personid AS personid, COUNT(*) AS message_score
      FROM snb_message m, snb_person p, snb_message_tag pt, snb_tag t
      WHERE m.m_creatorid = p.p_personid AND m.m_messageid = pt.mt_messageid
        AND pt.mt_tagid = t.t_tagid
        AND m.m_creationdate > TIMESTAMP '2024-01-10 00:00:00'
        AND t.t_name = 'Tag_9'
      GROUP BY p.p_personid),
    person_score AS (
      SELECT COALESCE(pti.personid, pms.personid) AS personid,
             CASE WHEN pti.personid IS NULL THEN 0 ELSE 100 END
               + COALESCE(pms.message_score, 0) AS score
      FROM person_tag_interest pti
      FULL JOIN person_message_score pms ON pti.personid = pms.personid)
    SELECT p.personid, p.score, CAST(SUM(f.score) AS BIGINT)
             AS friendsScore
    FROM person_score p, snb_knows k, person_score f
    WHERE p.personid = k.k_person1id AND k.k_person2id = f.personid
    GROUP BY p.personid, p.score
    ORDER BY p.score + SUM(f.score) DESC, p.personid LIMIT 100""")

_q("ldbc_bi09", "bi-9: top thread initiators (recursive thread closure)",
   """post_all(psa_threadid, psa_thread_creatorid, psa_messageid,
               psa_creationdate) AS (
      SELECT m_messageid, m_creatorid, m_messageid, m_creationdate
      FROM snb_message
      WHERE m_c_replyof IS NULL
        AND m_creationdate BETWEEN TIMESTAMP '2024-01-05 00:00:00'
                               AND TIMESTAMP '2024-01-20 00:00:00'
      UNION ALL
      SELECT psa.psa_threadid, psa.psa_thread_creatorid, p.m_messageid,
             p.m_creationdate
      FROM snb_message p, post_all psa
      WHERE p.m_c_replyof = psa.psa_messageid
        AND p.m_creationdate BETWEEN TIMESTAMP '2024-01-05 00:00:00'
                                 AND TIMESTAMP '2024-01-20 00:00:00')
    SELECT p.p_personid, p.p_firstname, p.p_lastname,
           COUNT(DISTINCT psa.psa_threadid) AS threadCount,
           COUNT(DISTINCT psa.psa_messageid) AS messageCount
    FROM snb_person p
    LEFT JOIN post_all psa ON p.p_personid = psa.psa_thread_creatorid
    GROUP BY p.p_personid, p.p_firstname, p.p_lastname
    ORDER BY messageCount DESC, p.p_personid LIMIT 100""",
   recursive=True)

_q("ldbc_bi10", "bi-10-shortestpath: experts within a hop band of the "
   "start person (recursive BFS; UNION ALL + group-min instead of "
   "recursive UNION, which Spark rejects)",
   """friends(startPerson, hopCount, friend) AS (
      SELECT p_personid, 0, p_personid FROM snb_person
      WHERE p_personid = 42
      UNION ALL
      SELECT f.startPerson, f.hopCount + 1, k.k_person2id
      FROM friends f, snb_knows k
      WHERE f.friend = k.k_person1id AND f.hopCount < 4),
    friends_shortest AS (
      SELECT startPerson, MIN(hopCount) AS hopCount, friend
      FROM friends GROUP BY startPerson, friend),
    friend_list AS (
      SELECT DISTINCT f.friend AS friendid
      FROM friends_shortest f, snb_person tf, snb_place ci, snb_place co
      WHERE f.friend = tf.p_personid AND tf.p_placeid = ci.pl_placeid
        AND ci.pl_containerplaceid = co.pl_placeid
        AND f.hopCount BETWEEN 2 AND 4
        AND co.pl_name IN ('NATION_0', 'NATION_1', 'NATION_2', 'NATION_3',
                           'NATION_4', 'NATION_5', 'NATION_6', 'NATION_7',
                           'NATION_8', 'NATION_9')),
    messages_of_tagclass_by_friends AS (
      SELECT DISTINCT f.friendid, m.m_messageid AS messageid
      FROM friend_list f, snb_message m, snb_message_tag pt, snb_tag t,
           snb_tagclass tc
      WHERE f.friendid = m.m_creatorid AND m.m_messageid = pt.mt_messageid
        AND pt.mt_tagid = t.t_tagid AND t.t_tagclassid = tc.tc_tagclassid
        AND tc.tc_name = 'Class_3')
    SELECT m.friendid, t.t_name, COUNT(*) AS messageCount
    FROM messages_of_tagclass_by_friends m, snb_message_tag pt, snb_tag t
    WHERE m.messageid = pt.mt_messageid AND pt.mt_tagid = t.t_tagid
    GROUP BY m.friendid, t.t_name
    ORDER BY messageCount DESC, t.t_name, m.friendid LIMIT 100""",
   recursive=True)

_q("ldbc_bi11", "bi-11: unique friend triangles within a country",
   """persons_of_country_w_friends AS (
      SELECT p.p_personid AS personid, k.k_person2id AS friendid
      FROM snb_person p, snb_place ci, snb_place co, snb_knows k
      WHERE p.p_placeid = ci.pl_placeid
        AND ci.pl_containerplaceid = co.pl_placeid
        AND p.p_personid = k.k_person1id
        -- 10-nation band instead of one country: nations are assigned
        -- uniformly at random (no SNB homophily), so a single-country
        -- triangle count is ~(1/25)^3-degenerate at fixture scale
        AND co.pl_name IN ('NATION_0', 'NATION_1', 'NATION_2', 'NATION_3',
                           'NATION_4', 'NATION_5', 'NATION_6', 'NATION_7',
                           'NATION_8', 'NATION_9'))
    SELECT COUNT(*) AS n
    FROM persons_of_country_w_friends p1,
         persons_of_country_w_friends p2,
         persons_of_country_w_friends p3
    WHERE p1.friendid = p2.personid AND p2.friendid = p3.personid
      AND p3.friendid = p1.personid
      AND p1.personid < p2.personid AND p2.personid < p3.personid""")

_q("ldbc_bi13", "bi-13: zombies in a country (inactivity HAVING bound, "
   "zombie-like ratio with RIGHT JOIN)",
   """zombies AS (
      SELECT p.p_personid AS zombieid
      FROM snb_place co, snb_place ci,
           snb_person p LEFT JOIN snb_message m
             ON p.p_personid = m.m_creatorid
            AND m.m_creationdate BETWEEN p.p_creationdate
                                     AND TIMESTAMP '2024-02-01 00:00:00'
      WHERE co.pl_placeid = ci.pl_containerplaceid
        AND ci.pl_placeid = p.p_placeid AND co.pl_name = 'NATION_9'
        AND p.p_creationdate < TIMESTAMP '2024-02-01 00:00:00'
      GROUP BY p.p_personid, p.p_creationdate
      HAVING COUNT(m_messageid) <
             12 * 2024 + 2
             - (12 * extract(year FROM p.p_creationdate)
                + extract(month FROM p.p_creationdate)) + 1)
    SELECT z.zombieid, COUNT(zl.zombieid) AS zombieLikeCount,
           COUNT(l.l_personid) AS totalLikeCount,
           CASE WHEN COUNT(l.l_personid) = 0 THEN 0
                ELSE CAST(COUNT(zl.zombieid) AS DOUBLE)
                     / COUNT(l.l_personid) END AS zombieScore
    FROM snb_message m
    INNER JOIN snb_likes l ON m.m_messageid = l.l_messageid
    INNER JOIN snb_person p ON l.l_personid = p.p_personid
      AND p.p_creationdate < TIMESTAMP '2024-02-01 00:00:00'
    LEFT JOIN zombies zl ON p.p_personid = zl.zombieid
    RIGHT JOIN zombies z ON z.zombieid = m.m_creatorid
    GROUP BY z.zombieid ORDER BY zombieScore DESC, z.zombieid LIMIT 100""")

_q("ldbc_bi14", "bi-14: international dialog pair scores (five UNION "
   "ALL interaction cases, per-city best pair via row_number)",
   """person1_list AS (
      SELECT p.p_personid AS personid, ci.pl_placeid AS cityid
      FROM snb_place co, snb_place ci, snb_person p
      WHERE co.pl_placeid = ci.pl_containerplaceid
        AND ci.pl_placeid = p.p_placeid AND co.pl_name = 'NATION_3'),
    person2_list AS (
      SELECT p.p_personid AS personid
      FROM snb_place co, snb_place ci, snb_person p
      WHERE co.pl_placeid = ci.pl_containerplaceid
        AND ci.pl_placeid = p.p_placeid AND co.pl_name = 'NATION_7'),
    case1 AS (
      SELECT DISTINCT p1.personid AS person1id, p2.personid AS person2id,
             4 AS score
      FROM person1_list p1, person2_list p2, snb_message m1, snb_message m2
      WHERE p1.personid = m1.m_creatorid AND p2.personid = m2.m_creatorid
        AND m2.m_c_replyof = m1.m_messageid),
    case2 AS (
      SELECT DISTINCT p1.personid, p2.personid, 1 AS score
      FROM person1_list p1, person2_list p2, snb_message m1, snb_message m2
      WHERE p1.personid = m2.m_creatorid AND p2.personid = m1.m_creatorid
        AND m2.m_c_replyof = m1.m_messageid),
    case3 AS (
      SELECT DISTINCT p1.personid, p2.personid, 15 AS score
      FROM person1_list p1, person2_list p2, snb_knows k
      WHERE p1.personid = k.k_person1id AND p2.personid = k.k_person2id),
    case4 AS (
      SELECT DISTINCT p1.personid, p2.personid, 10 AS score
      FROM person1_list p1, person2_list p2, snb_message m, snb_likes l
      WHERE p2.personid = m.m_creatorid AND m.m_messageid = l.l_messageid
        AND l.l_personid = p1.personid),
    case5 AS (
      SELECT DISTINCT p1.personid, p2.personid, 1 AS score
      FROM person1_list p1, person2_list p2, snb_message m, snb_likes l
      WHERE p1.personid = m.m_creatorid AND m.m_messageid = l.l_messageid
        AND l.l_personid = p2.personid),
    pair_scores AS (
      SELECT person1id, person2id, CAST(SUM(score) AS BIGINT) AS score
      FROM (SELECT * FROM case1 UNION ALL SELECT * FROM case2
            UNION ALL SELECT * FROM case3 UNION ALL SELECT * FROM case4
            UNION ALL SELECT * FROM case5) t
      GROUP BY person1id, person2id),
    score_ranks AS (
      SELECT s.person1id, s.person2id, ci.pl_name AS cityName, s.score,
             row_number() OVER (PARTITION BY ci.pl_placeid
                                ORDER BY s.score DESC NULLS LAST,
                                         s.person1id, s.person2id) AS rn
      FROM snb_place co
      INNER JOIN snb_place ci ON co.pl_placeid = ci.pl_containerplaceid
      LEFT JOIN person1_list p1l ON ci.pl_placeid = p1l.cityid
      LEFT JOIN pair_scores s ON p1l.personid = s.person1id
      WHERE co.pl_name = 'NATION_3')
    SELECT s.person1id, s.person2id, s.cityName, s.score
    FROM score_ranks s WHERE s.rn = 1
    ORDER BY s.score DESC NULLS LAST, s.person1id, s.person2id,
             s.cityName LIMIT 100""")


def _register(name: str, desc: str, recursive: bool, body: str) -> None:
    kw = "WITH RECURSIVE" if recursive else "WITH"
    stripped = body.lstrip()
    if stripped.upper().startswith("SELECT"):
        full = f"{kw} {_SNB}\n{body}"
        full_spark = f"{kw} {_SNB_SPARK}\n{body}"
    else:
        full = f"{kw} {_SNB},\n{body}"
        full_spark = f"{kw} {_SNB_SPARK},\n{body}"

    builder = _SPARK_BUILDERS.get(name)
    if builder is None:

        # Spark runs the no-op-dedup-relaxed SNB text (see _SNB_SPARK);
        # the oracle keeps the original — the driver gate value-checks
        # the equivalence at every SF.
        def builder(
            spark: SparkSession, sf_dir: str, _sql: str = full_spark
        ) -> DataFrame:
            register_views(spark, sf_dir)
            return spark.sql(_sql)

    _run = query(name, oracle=full)(builder)
    _run.__doc__ = (
        f"LDBC SNB {name[5:]} (benchmark/ldbc/queries/): {desc}."
    )


# bi-10's hop bound is in the QUERY TEXT (hopCount < 4), so the recursion
# unrolls into a 4-level BFS with no data-dependent depth: the friends
# CTE enumerates every walk of length <= 4 from person 42 and
# friends_shortest group-mins the hop — identically, level k of a
# per-level-DISTINCT BFS contains every endpoint of some length-k walk,
# so MIN(level) per friend is the same shortest hop.  The Spark-side win
# (guide §2.4): the native UnionLoop re-derived the snb_knows CTE (six
# customer self-joins) inside EVERY iteration and materialized each
# round through the driver (~55 Spark jobs per run); here snb_knows is
# materialized ONCE (localCheckpoint — per-instance, recomputed every
# invocation, never cache-shared across runs) and the whole query is one
# lazily-planned action.  The DuckDB oracle keeps the original recursive
# text; equivalence is value-checked by the driver gate at every SF.
_BI10_TAIL = """friend_list AS (
      -- Spark-side tail (oracle keeps the original DISTINCT text): this
      -- DISTINCT is a provable no-op — friends_shortest.friend is unique
      -- (group-min output) and the person/city/country joins are key
      -- lookups on unique ids (c_custkey unique; snb_place ids disjoint
      -- by construction: cities <= 249 < 1000 <= nations), so no row can
      -- duplicate.  Dropping it removes one aggregate exchange + AQE
      -- stage (pinned by tests/test_ldbc_corpus.py::test_bi10_tail_
      -- dedup_noop; value-checked by the driver gate at every SF).
      SELECT f.friend AS friendid
      FROM __ldbc_bi10_friends_shortest f, snb_person tf, snb_place ci,
           snb_place co
      WHERE f.friend = tf.p_personid AND tf.p_placeid = ci.pl_placeid
        AND ci.pl_containerplaceid = co.pl_placeid
        AND f.hopCount BETWEEN 2 AND 4
        AND co.pl_name IN ('NATION_0', 'NATION_1', 'NATION_2', 'NATION_3',
                           'NATION_4', 'NATION_5', 'NATION_6', 'NATION_7',
                           'NATION_8', 'NATION_9')),
    messages_of_tagclass_by_friends AS (
      -- same: a message carries at most ONE Class_3 tag (its two tag ids
      -- are id%100 and (7*id+3)%100; both ≡ 3 mod 10 needs id ≡ 3 and
      -- id ≡ 0 mod 10 — impossible), friendid is unique in friend_list,
      -- and m_messageid is unique, so (friendid, messageid) pairs cannot
      -- repeat and this DISTINCT removes zero rows.
      SELECT f.friendid, m.m_messageid AS messageid
      FROM friend_list f, snb_message m, snb_message_tag pt, snb_tag t,
           snb_tagclass tc
      WHERE f.friendid = m.m_creatorid AND m.m_messageid = pt.mt_messageid
        AND pt.mt_tagid = t.t_tagid AND t.t_tagclassid = tc.tc_tagclassid
        AND tc.tc_name = 'Class_3')
    SELECT m.friendid, t.t_name, COUNT(*) AS messageCount
    FROM messages_of_tagclass_by_friends m, snb_message_tag pt, snb_tag t
    WHERE m.messageid = pt.mt_messageid AND pt.mt_tagid = t.t_tagid
    GROUP BY m.friendid, t.t_name
    ORDER BY messageCount DESC, t.t_name, m.friendid LIMIT 100"""


# Broadcast guards for the BFS (VERDICT r9 item 3a).  Preferred form
# (r10 second pass): broadcast the EDGE table once when its plan-
# estimated size is broadcast-sized — the four hop joins then share a
# single build via ReusedExchange (one driver job instead of four
# sequential per-hop frontier builds; interleaved A/B
# OPTIMIZATION_r10.md §11: med 1.70 -> 1.51 s, every rep faster).  At
# scale knows is O(|person|) and the estimate blows the cap, so the
# builder falls back to broadcasting the frontier, whose size IS
# structurally bounded: the knows graph's out-degree is fixed by its
# derivation — every person has the (+1, +7, +8) neighbors in both
# directions, 6 edges, at every scale factor — so the frontier at hop k
# carries at most 6**k walk endpoints (1296 at the hop limit).  If a
# future graph change lifts that bound past the limit too, both hints
# are dropped and the hop joins fall back to the planner's choice
# (shuffle join at scale).
_KNOWS_OUT_DEGREE = 6
_BI10_HOPS = 4
_BI10_BROADCAST_ROW_LIMIT = 1_000_000
# Size the knows broadcast off the CUSTOMER SCAN's plan estimate (sum of
# file sizes — reliable), not the knows join subtree's (Spark multiplies
# child sizes for joins without column stats: 33 GB estimated for 90k
# real rows at sf0.1).  knows is exactly 6 x |customer| narrow rows by
# derivation, so a customer-scan cap bounds the broadcast relation to
# the same order.  Local default 8 MB of customer parquet (~0.9 MB at
# sf0.1); production can tune via env without code changes — past the
# cap the builder falls back to broadcasting the bounded frontier.
_BI10_KNOWS_BROADCAST_CUSTOMER_BYTES = int(
    os.environ.get(
        "SPARK_GRAFT_BI10_KNOWS_BROADCAST_CUSTOMER_BYTES", str(8 << 20)
    )
)


def _bi10_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    register_views(spark, sf_dir)
    # the edge table, derived ONCE and materialized (the reference's
    # physical_recursive_cte.cpp materializes its working table the same
    # way) instead of once per recursion round.  eager=False: the
    # checkpoint fills inside the first job that reads it — no separate
    # blocking driver job (r10 A/B, OPTIMIZATION_r10.md §1).
    knows = spark.sql(
        f"WITH {_SNB_SPARK} SELECT k_person1id, k_person2id FROM snb_knows"
    ).localCheckpoint(eager=False)
    try:
        customer_bytes = int(
            spark.table("customer")
            ._jdf.queryExecution()
            .optimizedPlan()
            .stats()
            .sizeInBytes()
        )
    except Exception:  # pragma: no cover - stats API unavailable
        customer_bytes = None
    frontier = spark.sql(
        f"WITH {_SNB_SPARK} SELECT p_personid AS friend FROM snb_person "
        "WHERE p_personid = 42"
    )
    broadcast_knows = (
        customer_bytes is not None
        and customer_bytes <= _BI10_KNOWS_BROADCAST_CUSTOMER_BYTES
    )
    if broadcast_knows:
        knows = F.broadcast(knows)
    guard_ok = _KNOWS_OUT_DEGREE**_BI10_HOPS <= _BI10_BROADCAST_ROW_LIMIT
    levels = [frontier.select(F.lit(0).alias("hopCount"), "friend")]
    for hop in range(1, _BI10_HOPS + 1):
        # Walk enumeration, exactly the oracle's recursive friends CTE:
        # level k holds every endpoint of some length-k walk (UNION ALL
        # semantics — NO per-level DISTINCT; the single group-min below
        # collapses all walks at once).  r9 ran a DISTINCT per level,
        # which cost one shuffle + one AQE stage materialization per hop
        # (29 jobs total); the walk counts are degree-bounded (<= 6**k
        # rows, see guard above) so deduping early buys nothing (guide
        # §2.4: remove shuffles outright).  The hop joins never shuffle:
        # either the edge table is broadcast once (build reused by every
        # hop) or, past the size cap, the bounded frontier is (§3.1).
        probe = (
            frontier
            if broadcast_knows
            else (F.broadcast(frontier) if guard_ok else frontier)
        )
        frontier = probe.join(
            knows, frontier["friend"] == knows["k_person1id"]
        ).select(F.col("k_person2id").alias("friend"))
        levels.append(
            frontier.select(F.lit(hop).alias("hopCount"), "friend")
        )
    u = levels[0]
    for lv in levels[1:]:
        u = u.unionByName(lv)
    shortest = u.groupBy("friend").agg(F.min("hopCount").alias("hopCount"))
    shortest.createOrReplaceTempView("__ldbc_bi10_friends_shortest")
    return spark.sql(f"WITH {_SNB_SPARK},\n{_BI10_TAIL}")


_SPARK_BUILDERS = {"ldbc_bi10": _bi10_builder}

for _name, (_desc, _rec, _body) in _QUERIES.items():
    _register(_name, _desc, _rec, _body)
