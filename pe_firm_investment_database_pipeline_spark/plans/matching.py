"""Scored matching + scalar-function surface (SURVEY.md §2.3/§2.5/§2.8
P3): the reference's entity↔card scored join, fuzzy name matching, URL
candidate construction, JSON key scanning and scalar/list
normalization — re-expressed on the star schema with DuckDB oracles.

Reference parity (file:line vs /root/reference/):
- join_score_argmax    step3_attempt1.py:401-412 (nested loop) +
                       :289-304 (weighted score) — here a broadcast
                       theta-join + window argmax.
- str_name_match       step3_attempt1.py:277-287 (_name_matches) +
                       the *(ext)* levenshtein upgrade path.
- url_join             step1_attempt1.py:41-53, step1_attempt2.py:44-53.
- json_key_scan        founded_year.py:71-75 (any key containing
                       'found', case-insensitive).
- json_normalize_scalar founded_year.py:62-65, step3_attempt1.py:135-136
                       (scalar-vs-list polymorphism → always-array).
- win_first_success    step1_attempt3.py:79-91 (first accessible Google
                       result wins, reliability rank = position).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.exact import cents
from ..functions.resolution import name_matches
from ..registry import QuerySpec
from ..sources.tables import load_table


# ---------------------------------------------------------------------------
# join_score_argmax — scored theta-join, keep best card per entity
# ---------------------------------------------------------------------------

def join_score_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every customer (entity) × every supplier (card): weighted
    feature score (reference weights 1.0/0.9/0.6/0.3,
    step3_attempt1.py:289-304), keep the best-scoring supplier per
    customer (argmax window, step3_attempt1.py:404-412).

    Scale shape (r13 rewrite): the scored pair space is NEVER
    materialized — the argmax is decomposed over the 8 score classes
    the weighted predicates induce (see the in-body comment), so the
    entity side does E x O(log C) map-side work through broadcast
    staircase lookups instead of the E x C cross join (which read
    ~100x for 10x data in the sf1.0 scaling probe). Tie-break
    (lowest suppkey) is the staircase's first-qualifying entry, so
    the survivor is deterministic, and the winner's score is
    recomputed with the original expression — integer-cent
    comparisons and literal weights summed in a fixed order, rounded
    once — so the emitted doubles are bit-identical to the
    cross-join formulation (the oracle still declares the cross
    join)."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", "s_acctbal", "s_name"
    )
    z = F.lit(0.0)
    # ARGMAX DECOMPOSITION (r13, guide §8 "use what you know that the
    # optimizer does not"): the E x C scored cross join materialized
    # every pair — 1.5e9 rows at sf1.0 (121 s; ~100x for 10x data in
    # the scaling probe, the registry's one quadratic plan). But the
    # score takes only 8 distinct per-pair values: the segment term
    # (0.3) is constant per CUSTOMER (it cannot move the argmax), and
    # the remaining three predicates — nation match (1.0), supplier
    # balance greater (0.9), (s_suppkey + c_custkey) % 7 == 0 (0.6) —
    # partition the suppliers, for a fixed customer, into 8 classes
    # with pairwise-distinct class scores (subset sums of
    # {1.0, 0.9, 0.6} are unique). The argmax winner is therefore the
    # MIN-SUPPKEY supplier of the highest nonempty class, and that
    # min is answerable without touching E x C pairs: within any
    # supplier group, the min-suppkey supplier with bal > x always
    # lies on the group's RECORD-MAX STAIRCASE in suppkey order
    # (if an earlier suppkey had an equal-or-higher balance it would
    # win instead), and the first staircase entry with bal > x IS the
    # answer; bal <= x symmetrically uses the record-min staircase.
    # Build both staircases for every (nation-relation, mod-relation)
    # group a customer can probe — (eq n | ne n) x (eq m | ne m) over
    # the 25-nation x 7-residue grid, each supplier exploding into
    # its 175 group memberships (supplier-side work: C x 175 rows,
    # dimension-sized) — then resolve each customer with FOUR
    # broadcast equi-joins against the ~700-row staircase table plus
    # array filters, and recompute the winner's score with the
    # ORIGINAL expression (bit-identical doubles) via one more
    # broadcast join. No shuffle of the customer side, no pair
    # materialization: E x O(log C) work instead of E x C.
    # spread=False: the staircase build's inputs are dimension-sized
    # (suppliers x 175 grid cells); the parallelism-floor repartition
    # would turn every narrow stage into 32 near-empty tasks and the
    # build cost becomes pure task-scheduling latency
    sup = load_table(spark, sf_dir, "supplier", spread=False).select(
        "s_suppkey",
        "s_nationkey",
        cents("s_acctbal").alias("bal"),
        (F.col("s_suppkey") % 7).alias("smod"),
    )
    nat_dom = load_table(spark, sf_dir, "nation", spread=False).select(
        F.col("n_nationkey").cast("long").alias("natkey")
    )
    mod_dom = spark.range(7).select(F.col("id").cast("long").alias("modkey"))
    # group memberships: every (nation, residue) grid cell holds each
    # supplier exactly once, with rel flags DERIVED from whether the
    # cell matches the supplier (rel 0 = "customer value equals the
    # supplier's", 1 = "differs") — one cross product with two
    # dimension-sized broadcasts, no unions, C x 175 rows total
    member = (
        sup.crossJoin(F.broadcast(nat_dom))
        .crossJoin(F.broadcast(mod_dom))
        .select(
            "s_suppkey",
            "bal",
            F.when(F.col("natkey") == F.col("s_nationkey"), 0)
            .otherwise(1)
            .alias("nat_rel"),
            "natkey",
            F.when(F.col("modkey") == F.col("smod"), 0)
            .otherwise(1)
            .alias("mod_rel"),
            "modkey",
        )
    )
    # staircases computed INSIDE the aggregate (one exchange, no
    # window pass): sort each group's (suppkey, bal) array by suppkey
    # and keep record-maxima / record-minima of bal with ONE linear
    # fold per direction (array_append fires only on the O(log n)
    # record points, so the fold is linear, not quadratic).
    stair_fold = (
        "aggregate(arr, named_struct("
        " 'm', CAST({seed} AS BIGINT),"
        " 'st', CAST(array() AS ARRAY<STRUCT<s_suppkey: BIGINT, bal: BIGINT>>)),"
        " (acc, e) -> named_struct("
        "  'm', {pick}(acc.m, e.bal),"
        "  'st', CASE WHEN e.bal {op} acc.m"
        "        THEN array_append(acc.st, e) ELSE acc.st END),"
        " acc -> acc.st)"
    )
    # Deliberately NOT checkpointed: the four family joins below each
    # broadcast their filter of this frame, and broadcast relations
    # build CONCURRENTLY on the driver's broadcast thread pool — the
    # four ~0.6 s supplier-side builds overlap, which A/B'd faster
    # than serializing them behind one eager checkpoint (1.6-1.8 vs
    # 1.8-2.6 s warm at sf0.1; the build stays dimension-sized at
    # any SF). Memory: collect_list buffers each group's full
    # (suppkey, bal) array before the sort and fold, so the per-group
    # buffer is O(suppliers), not O(staircase points) — the
    # (ne nation, ne residue) group of every grid cell holds ~82% of
    # all suppliers, and the 700 groups together buffer C x 175
    # structs. Suppliers are a dimension (10k per sf unit), so one
    # group is ~8.2k structs per sf unit: tens of MB at sf100.
    stairs = (
        member.groupBy("nat_rel", "natkey", "mod_rel", "modkey")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("s_suppkey", "bal"))
            ).alias("arr")
        )
        .select(
            "nat_rel",
            "natkey",
            "mod_rel",
            "modkey",
            F.expr(
                stair_fold.format(
                    op=">", seed=-(2**63), pick="greatest"
                )
            ).alias("up"),
            F.expr(
                stair_fold.format(
                    op="<", seed=2**63 - 1, pick="least"
                )
            ).alias("dn"),
        )
    )
    probe = c.select(
        "c_custkey", "c_nationkey", "c_mktsegment",
        cents("c_acctbal").alias("x"),
        ((7 - F.col("c_custkey") % 7) % 7).cast("long").alias("m"),
    )
    resolved = probe
    for tag, nat_rel, mod_rel in (
        ("a", 0, 0),  # nation match, mod match: base 1.6, +0.9 if bal>
        ("b", 0, 1),  # nation match only:      base 1.0
        ("c", 1, 0),  # mod match only:         base 0.6
        ("d", 1, 1),  # neither:                base 0.0
    ):
        st = stairs.where(
            (F.col("nat_rel") == nat_rel) & (F.col("mod_rel") == mod_rel)
        ).select(
            F.col("natkey").alias(f"nk_{tag}"),
            F.col("modkey").alias(f"mk_{tag}"),
            F.col("up").alias(f"up_{tag}"),
            F.col("dn").alias(f"dn_{tag}"),
        )
        resolved = resolved.join(
            F.broadcast(st),
            (F.col(f"nk_{tag}") == F.col("c_nationkey").cast("long"))
            & (F.col(f"mk_{tag}") == F.col("m")),
            "left",
        )

    def up_pick(tag: str):
        return F.expr(
            f"try_element_at(filter(up_{tag}, e -> e.bal > x), 1).s_suppkey"
        )

    def dn_pick(tag: str):
        return F.expr(
            f"try_element_at(filter(dn_{tag}, e -> e.bal <= x), 1).s_suppkey"
        )

    # class scores descend 2.5, 1.9, 1.6, 1.5, 1.0, 0.9, 0.6, 0.0 —
    # pairwise distinct, so the winner is the first nonnull candidate
    winner = resolved.select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.col("x").alias("c_bal"),
        F.coalesce(
            up_pick("a"),  # 1.0+0.9+0.6
            up_pick("b"),  # 1.0+0.9
            dn_pick("a"),  # 1.0+0.6
            up_pick("c"),  # 0.9+0.6
            dn_pick("b"),  # 1.0
            up_pick("d"),  # 0.9
            dn_pick("c"),  # 0.6
            dn_pick("d"),  # 0.0
        ).alias("best_suppkey"),
    ).where(F.col("best_suppkey").isNotNull())
    # recompute the winner's score with the ORIGINAL expression so the
    # emitted double is bit-identical to the cross-join formulation
    win_score = F.round(
        F.when(F.col("c_nationkey") == F.col("s_nationkey"), F.lit(1.0)).otherwise(z)
        + F.when(cents("s_acctbal") > F.col("c_bal"), F.lit(0.9)).otherwise(z)
        + F.when((F.col("s_suppkey") + F.col("c_custkey")) % 7 == 0, F.lit(0.6)).otherwise(z)
        + F.when(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"), F.lit(0.3)).otherwise(z),
        3,
    )
    return winner.join(
        F.broadcast(s), winner.best_suppkey == s.s_suppkey
    ).select(
        "c_custkey",
        "best_suppkey",
        win_score.alias("best_score"),
    )


_JOIN_SCORE_ARGMAX_SQL = """
WITH scored AS (
  SELECT c_custkey, s_suppkey,
         round(
           CASE WHEN c_nationkey = s_nationkey THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END
           + CASE WHEN CAST(round(s_acctbal*100) AS BIGINT) > CAST(round(c_acctbal*100) AS BIGINT)
                  THEN 0.9::DOUBLE ELSE 0.0::DOUBLE END
           + CASE WHEN (s_suppkey + c_custkey) % 7 = 0 THEN 0.6::DOUBLE ELSE 0.0::DOUBLE END
           + CASE WHEN c_mktsegment IN ('BUILDING','MACHINERY') THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END,
         3) AS score
  FROM customer CROSS JOIN supplier
)
SELECT c_custkey, s_suppkey AS best_suppkey, score AS best_score
FROM (SELECT c_custkey, s_suppkey, score,
             row_number() OVER (PARTITION BY c_custkey
                                ORDER BY score DESC, s_suppkey) AS rn
      FROM scored)
WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# str_name_match — fuzzy name equality + levenshtein upgrade
# ---------------------------------------------------------------------------

def str_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_name_matches semantics (step3_attempt1.py:277-287): normalize
    (collapse whitespace, lower, trim); match iff equal OR one side is
    a >=3-char substring of the other. Three deterministic candidate
    shapes per customer exercise every branch; the levenshtein column
    is the *(ext)* upgrade path (identical classic edit distance in
    Spark and DuckDB)."""
    c = load_table(spark, sf_dir, "customer")
    n1 = F.lower(F.trim(F.regexp_replace(F.col("c_name"), r"\s+", " ")))
    cand = (
        F.when(F.col("c_custkey") % 3 == 0, F.upper(F.col("c_name")))
        .when(F.col("c_custkey") % 3 == 1, F.substring(F.col("c_name"), 1, 10))
        .otherwise(F.lit("Unrelated Pty Ltd"))
    )
    n2 = F.lower(F.trim(F.regexp_replace(cand, r"\s+", " ")))
    matched = name_matches(F.col("c_name"), cand)
    return c.select(
        "c_custkey",
        n1.alias("name_a"),
        n2.alias("name_b"),
        matched.alias("is_match"),
        F.levenshtein(n1, n2).cast("long").alias("edit_distance"),
    )


_STR_NAME_MATCH_SQL = r"""
WITH t AS (
  SELECT c_custkey,
         lower(trim(regexp_replace(c_name, '\s+', ' ', 'g'))) AS name_a,
         lower(trim(regexp_replace(
           CASE WHEN c_custkey % 3 = 0 THEN upper(c_name)
                WHEN c_custkey % 3 = 1 THEN substr(c_name, 1, 10)
                ELSE 'Unrelated Pty Ltd' END, '\s+', ' ', 'g'))) AS name_b
  FROM customer
)
SELECT c_custkey, name_a, name_b,
       (name_a = name_b OR (length(name_a) >= 3 AND length(name_b) >= 3
         AND (contains(name_a, name_b) OR contains(name_b, name_a)))) AS is_match,
       CAST(levenshtein(name_a, name_b) AS BIGINT) AS edit_distance
FROM t
"""


# ---------------------------------------------------------------------------
# url_join — candidate URL construction (base+subpath, domain mutation)
# ---------------------------------------------------------------------------

def url_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate portfolio-URL construction (step1_attempt1.py:41-53:
    base+subpath with trailing-slash handling; step1_attempt2.py:44-53:
    domain mutation {name}{subpath}.{tld})."""
    s = load_table(spark, sf_dir, "supplier")
    slug = F.lower(F.regexp_replace("s_name", r"[^A-Za-z0-9]", ""))
    # half the bases carry a trailing slash — rtrim must normalize both
    base = F.concat(
        F.lit("https://"),
        slug,
        F.lit(".com.au"),
        F.when(F.col("s_suppkey") % 2 == 0, F.lit("/")).otherwise(F.lit("")),
    )
    joined = F.concat(F.regexp_replace(base, "/+$", ""), F.lit("/"), F.lit("portfolio"))
    mutated = F.concat(F.lit("https://"), slug, F.lit("invest"), F.lit(".com.au"))
    return s.select(
        "s_suppkey",
        base.alias("base_url"),
        joined.alias("candidate_url"),
        mutated.alias("mutated_domain_url"),
    )


_URL_JOIN_SQL = """
WITH t AS (
  SELECT s_suppkey,
         lower(regexp_replace(s_name, '[^A-Za-z0-9]', '', 'g')) AS slug,
         CASE WHEN s_suppkey % 2 = 0 THEN '/' ELSE '' END AS slash
  FROM supplier
)
SELECT s_suppkey,
       'https://' || slug || '.com.au' || slash AS base_url,
       rtrim('https://' || slug || '.com.au' || slash, '/') || '/portfolio' AS candidate_url,
       'https://' || slug || 'invest' || '.com.au' AS mutated_domain_url
FROM t
"""


# ---------------------------------------------------------------------------
# json_key_scan — any key containing 'found' (case-insensitive)
# ---------------------------------------------------------------------------

def json_key_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """founded_year.py:71-75: scan a JSON object for any key whose
    lowercase form contains 'found'; take that value. JSON documents
    are synthesized with three key spellings + a no-match shape, then
    scanned with map_filter over from_json(MapType) — JVM-side, no
    Python. Null when no key matches."""
    o = load_table(spark, sf_dir, "orders")
    y = F.year("o_orderdate").cast("string")
    doc = (
        F.when(
            F.col("o_orderkey") % 4 == 0,
            F.concat(F.lit('{"founded":"'), y, F.lit('","name":"a"}')),
        )
        .when(
            F.col("o_orderkey") % 4 == 1,
            F.concat(F.lit('{"Found_Year":"'), y, F.lit('"}')),
        )
        .when(
            F.col("o_orderkey") % 4 == 2,
            F.concat(F.lit('{"companyFounded":"'), y, F.lit('","x":"1"}')),
        )
        .otherwise(F.lit('{"name":"b","established":"n/a"}'))
    )
    m = F.from_json(doc, "map<string,string>")
    hits = F.map_filter(m, lambda k, v: F.lower(k).contains("found"))
    found = F.when(F.size(F.map_keys(hits)) > 0, F.map_values(hits).getItem(0))
    return o.select(
        "o_orderkey",
        doc.alias("doc"),
        found.alias("found_value"),
        F.size(F.map_keys(hits)).cast("long").alias("n_hits"),
    )


_JSON_KEY_SCAN_SQL = """
WITH docs AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 4 = 0
                THEN '{"founded":"' || CAST(year(o_orderdate) AS VARCHAR) || '","name":"a"}'
              WHEN o_orderkey % 4 = 1
                THEN '{"Found_Year":"' || CAST(year(o_orderdate) AS VARCHAR) || '"}'
              WHEN o_orderkey % 4 = 2
                THEN '{"companyFounded":"' || CAST(year(o_orderdate) AS VARCHAR) || '","x":"1"}'
              ELSE '{"name":"b","established":"n/a"}'
         END AS doc
  FROM orders
), scanned AS (
  SELECT o_orderkey, doc,
         list_filter(json_keys(doc), k -> contains(lower(k), 'found')) AS keys_hit
  FROM docs
)
SELECT o_orderkey, doc,
       CASE WHEN len(keys_hit) > 0
            THEN json_extract_string(doc, '$.' || keys_hit[1]) END AS found_value,
       CAST(len(keys_hit) AS BIGINT) AS n_hits
FROM scanned
"""


# ---------------------------------------------------------------------------
# json_normalize_scalar — scalar-vs-list polymorphism → always-array
# ---------------------------------------------------------------------------

def json_normalize_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-LD fields arrive as scalar OR list (founded_year.py:62-65,
    step3_attempt1.py:135-136,209-210). Normalize-to-array reader:
    probe the first char; parse as array when '[', else wrap the
    scalar. Emitted as sorted CSV so the value-hash is shape-stable."""
    p = load_table(spark, sf_dir, "part")
    val = (
        F.when(
            F.col("p_partkey") % 3 == 0,
            F.concat(F.lit('["'), F.col("p_brand"), F.lit('","Organization"]')),
        )
        .when(F.col("p_partkey") % 3 == 1, F.concat(F.lit('"'), F.col("p_brand"), F.lit('"')))
        .otherwise(F.lit("null"))
    )
    # Spark's get_json_object('null','$') yields the string 'null'
    # (DuckDB yields SQL NULL) — probe the literal explicitly.
    as_arr = (
        F.when(F.substring(val, 1, 1) == "[", F.from_json(val, "array<string>"))
        .when(val == "null", F.array().cast("array<string>"))
        .otherwise(
            F.filter(F.array(F.get_json_object(val, "$")), lambda x: x.isNotNull())
        )
    )
    return p.select(
        "p_partkey",
        val.alias("raw_json"),
        F.array_join(F.array_sort(as_arr), ",").alias("types_csv"),
        F.size(as_arr).cast("long").alias("n_types"),
    )


_JSON_NORMALIZE_SCALAR_SQL = """
WITH docs AS (
  SELECT p_partkey,
         CASE WHEN p_partkey % 3 = 0 THEN '["' || p_brand || '","Organization"]'
              WHEN p_partkey % 3 = 1 THEN '"' || p_brand || '"'
              ELSE 'null' END AS raw_json
  FROM part
), norm AS (
  SELECT p_partkey, raw_json,
         CASE WHEN substr(raw_json, 1, 1) = '['
                THEN CAST(json_extract_string(raw_json, '$[*]') AS VARCHAR[])
              WHEN json_extract_string(raw_json, '$') IS NOT NULL
                THEN [json_extract_string(raw_json, '$')]
              ELSE [] END AS arr
  FROM docs
)
SELECT p_partkey, raw_json,
       COALESCE(array_to_string(list_sort(arr), ','), '') AS types_csv,
       CAST(len(arr) AS BIGINT) AS n_types
FROM norm
"""


# ---------------------------------------------------------------------------
# win_first_success — first accessible result wins, rank = position
# ---------------------------------------------------------------------------

def win_first_success(spark: SparkSession, sf_dir: str) -> DataFrame:
    """step1_attempt3.py:79-91: results arrive ranked (position i+1);
    the first *accessible* one wins. Per user: events ordered by
    (ts_us, event_id) get a reliability rank; the first event with
    value >= 10 is the winner. One window pass, no self-join."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    ranked = e.select(
        "user_id",
        "event_id",
        "value",
        F.row_number().over(w).cast("long").alias("reliability_rank"),
    ).where(F.col("value") >= 10.0)
    w2 = W.partitionBy("user_id").orderBy("reliability_rank")
    return (
        ranked.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("first_success_id"),
            "reliability_rank",
        )
    )


_WIN_FIRST_SUCCESS_SQL = """
WITH ranked AS (
  SELECT user_id, event_id, value,
         CAST(row_number() OVER (PARTITION BY user_id
                                 ORDER BY epoch_us(ts::TIMESTAMP), event_id) AS BIGINT)
           AS reliability_rank
  FROM events
)
SELECT user_id, event_id AS first_success_id, reliability_rank
FROM (SELECT user_id, event_id, reliability_rank,
             row_number() OVER (PARTITION BY user_id ORDER BY reliability_rank) AS rn
      FROM ranked WHERE value >= 10.0)
WHERE rn = 1
"""


def join_fuzzy_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy-name join — the reference's name matching
    (step3_attempt1.py:277-287) at relation scale: a DIRTY batch
    (every 10th part's name with its 3rd character substituted —
    the master-data-reconciliation shape) is matched against the
    master part table. Candidates come from an EQUI-join on the
    block key (first character, length div 8 — substitutions
    preserve both), the exact levenshtein runs only inside blocks,
    and a partial-aggregable min(struct) picks each dirty row's best
    master match. Never an all-pairs distance matrix: cost is
    O(batch x block), and indel robustness at unbounded scale comes
    from q-gram/LSH signature blocking (textops.py), not wider
    buckets."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", F.lower(F.col("p_name")).alias("name")
    )
    block = lambda c: F.struct(  # noqa: E731
        F.substring(c, 1, 1).alias("c0"),
        F.floor(F.length(c) / 8).cast("long").alias("lb"),
    )
    master = p.select(
        F.col("p_partkey").alias("master_key"),
        F.col("name").alias("master_name"),
        block(F.col("name")).alias("blk"),
    )
    dirty = (
        p.where("p_partkey % 10 = 0")
        .select(
            F.col("p_partkey").alias("dirty_key"),
            F.expr(
                "concat(substr(name, 1, 2), 'x', substr(name, 4))"
            ).alias("dirty_name"),
        )
        .select(
            "dirty_key", "dirty_name", block(F.col("dirty_name")).alias("blk")
        )
    )
    cands = (
        dirty.join(master, "blk")
        # threshold form (Spark 3.5+): banded O(len*k) DP with early
        # exit instead of the full O(len^2) matrix; distance > 2
        # returns the -1 sentinel, so the keep-filter is `>= 0`
        # (surviving rows carry the exact distance, identical output)
        .withColumn(
            "dist",
            F.levenshtein("dirty_name", "master_name", 2).cast("long"),
        )
        .where(F.col("dist") >= 0)
    )
    best = cands.groupBy("dirty_key").agg(
        F.min(F.struct(F.col("dist"), F.col("master_key"))).alias("b")
    )
    return best.select(
        "dirty_key",
        F.col("b.master_key").alias("master_key"),
        F.col("b.dist").alias("edit_distance"),
    )


_JOIN_FUZZY_NAME_SQL = """
WITH p AS (
  SELECT p_partkey, lower(p_name) AS name FROM part
), master AS (
  SELECT p_partkey AS master_key, name AS master_name,
         substr(name, 1, 1) AS c0, length(name) // 8 AS lb
  FROM p
), dirty AS (
  SELECT p_partkey AS dirty_key,
         concat(substr(name, 1, 2), 'x', substr(name, 4)) AS dirty_name
  FROM p WHERE p_partkey % 10 = 0
), cands AS (
  SELECT d.dirty_key, m.master_key,
         CAST(levenshtein(d.dirty_name, m.master_name) AS BIGINT) AS dist
  FROM dirty d JOIN master m
    ON substr(d.dirty_name, 1, 1) = m.c0
   AND length(d.dirty_name) // 8 = m.lb
  WHERE levenshtein(d.dirty_name, m.master_name) <= 2
), ranked AS (
  SELECT dirty_key, master_key, dist,
         row_number() OVER (PARTITION BY dirty_key
                            ORDER BY dist, master_key) AS rn
  FROM cands
)
SELECT dirty_key, master_key, dist AS edit_distance
FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# er_pipeline_e2e — multi-source entity resolution, end to end
# ---------------------------------------------------------------------------

_ER_ROUNDS = 3  # min-label propagation rounds (cluster diameter bound)


def _er_edges(pairs: DataFrame) -> DataFrame:
    """Symmetrized candidate edge set (lazy — the entry checkpoints
    it; the plan-shape pin reads this frame's blocked-join shape)."""
    return pairs.unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def _er_recs_and_pairs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(records, candidate pairs) — both LAZY: the three-source
    registry and the blocked levenshtein candidate join. Shared by
    the entry (which checkpoints the symmetrized edges) and the
    plan-shape pin (which explains the pre-checkpoint join shape)."""
    code = "concat(" + ", ".join(
        f"chr(97 + (p_partkey div {26 ** i}) % 26)" for i in range(5, -1, -1)
    ) + ")"
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.expr(f"concat({code}, ' ', lower(p_name))").alias("name"),
    )
    a = p.select(
        (F.col("p_partkey") * 10).alias("rec_id"),
        F.lit(0).alias("src"),
        F.col("name"),
    )
    b = p.where("p_partkey % 3 = 0").select(
        (F.col("p_partkey") * 10 + 1).alias("rec_id"),
        F.lit(1).alias("src"),
        F.expr("concat(substr(name, 1, 2), 'x', substr(name, 4))").alias(
            "name"
        ),
    )
    c = p.where("p_partkey % 7 = 0").select(
        (F.col("p_partkey") * 10 + 2).alias("rec_id"),
        F.lit(2).alias("src"),
        F.expr("substr(name, 1, length(name) - 1)").alias("name"),
    )
    recs = a.unionByName(b).unionByName(c)
    posted = recs.select(
        "rec_id",
        "name",
        F.expr("concat(substr(name, 1, 2), substr(name, 4, 3))").alias(
            "sg"
        ),
        F.explode(
            F.array(
                F.expr("length(name) div 8"),
                F.expr("(length(name) + 1) div 8"),
            )
        ).alias("band"),
    ).distinct()
    # A length-difference pre-cut (|len(l)-len(r)| <= 2, implied by
    # levenshtein <= 2) in the join condition was A/B'd in r13 and
    # REJECTED: the skip-gram + double length band blocking already
    # confines length drift, so the cut removes only 392 of 16544
    # candidate rows (2.4%) at sf0.1 and measured band-neutral
    # (best-of-3 alternating 3.87 vs 3.83 s); the threshold
    # levenshtein's internal length early-exit already covers the
    # comparison-cost side. Determination in OPTIMIZATION_r13.md.
    pairs = (
        posted.alias("l")
        .join(
            posted.alias("r"),
            (F.col("l.sg") == F.col("r.sg"))
            & (F.col("l.band") == F.col("r.band"))
            & (F.col("l.rec_id") < F.col("r.rec_id")),
        )
        .select(
            F.col("l.rec_id").alias("u"),
            F.col("r.rec_id").alias("v"),
            F.col("l.name").alias("ln"),
            F.col("r.name").alias("rn"),
        )
        .distinct()
        # threshold form: banded O(len*2) DP, -1 sentinel when > 2
        .where(F.levenshtein("ln", "rn", 2) >= 0)
        .select("u", "v")
    )
    return recs, pairs


def er_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENTITY RESOLUTION END-TO-END — the reference's core semantics
    (match dirty records of one real-world entity across sources,
    step3_attempt1.py's name matching writ large) as one pipeline:
    a three-source registry is synthesized in-plan — entity names
    are a 6-letter base-26 SKU code (from p_partkey) + the part
    name, so names are DISTINCTIVE per entity (raw p_name has only
    64 distinct values at any SF: ER over it degenerates into
    name-family cliques whose candidate volume is Σ multiplicity² —
    measured and rejected at sf1.0 while building this entry).
    Sources: A = verbatim, B = every 3rd with the 3rd char
    substituted, C = every 7th with the last char dropped. Blocking
    is ERROR-POSITION-AWARE (the known-corruption-model ER move):
    the key is the skip-gram of code chars 1-2 + 4-6 — B only
    touches position 3 and C only the tail, so every true pair
    shares the key while its ~26^5 cardinality keeps blocks
    entity-sized — plus the (len div 8, (len+1) div 8) double band
    for indel robustness. Scoring is levenshtein <= 2 INSIDE blocks
    only (never all-pairs; near-key SKU collisions with an equal
    part name are genuine candidate noise the threshold + clustering
    absorb). Clustering is 3 unrolled rounds of min-label
    propagation over the undirected edge set (both engines run the
    identical rounds, so the labels agree whatever the true
    diameter). Survivorship prefers source A, then the longest
    name, then the smallest rec_id — one min(struct) per cluster.
    Output: one row per multi-record cluster with its size, source
    fan-out, and survivor. Scale shape: candidate cost is
    O(Σ block²) with entity-sized blocks, propagation joins are
    label-grid-sized, and nothing ever leaves the blocked
    universe."""
    recs, pairs = _er_recs_and_pairs(spark, sf_dir)
    # EAGER-CHECKPOINTED edge list + per-round labels. This decision
    # is RE-VERDICTED each round (the alternative leaves the pairs
    # subtree unmaterialized and lets ReuseExchange serve the ~111-
    # node fan-out from one shuffle): the r10 A/B favored
    # unmaterialized at sf1.0 (1.13x for the checkpoint), but the
    # r11 extension-session quiet-window A/B flipped — checkpoint
    # 0.59x at sf0.1 (3.7 vs 6.2 s) and 0.93x at sf1.0 (10.6 vs
    # 11.3 s best-of-3 alternating) — job-launch latency on the
    # re-run map stages now outweighs the materialization cost at
    # both scales (r11 BENCH_NOTES determination).
    edges = _er_edges(pairs).localCheckpoint(eager=True)
    labels = recs.select(
        "rec_id", F.col("rec_id").alias("lbl")
    ).localCheckpoint(eager=True)
    for _ in range(_ER_ROUNDS):
        # union-min propagation (r12 optimization round): new label =
        # min(own, min over neighbors) == min-aggregate over the
        # union of the self-labels and the neighbor-carried labels.
        # One join + one groupBy per round, where the old shape was
        # join + groupBy(u) + left-join-back + least/coalesce — the
        # second join (and its exchange) per round is gone and the
        # result is identical: least(lbl, coalesce(min nl, lbl)) ==
        # min over ({lbl} ∪ {neighbor lbls}).
        # Checkpoint CADENCE (r13, VERDICT r12 #4): the per-round
        # eager checkpoints were re-A/B'd after the union-min rewrite
        # and REMOVED — with one join + one groupBy per round the
        # lazy round chain's repeated subtrees are served by
        # ReuseExchange, and dropping the three per-round
        # materialization jobs measured faster at BOTH scales
        # (best-of-2 alternating: 3.85 -> 3.66 s at sf0.1, 8.77 ->
        # 7.54 s at sf1.0 = -14%; fully-lazy — no edges/labels0
        # checkpoint either — is slower than both at 4.56 / 9.48 s,
        # so the base checkpoints stay).
        nbr = edges.join(labels, edges.v == labels.rec_id).select(
            F.col("u").alias("rec_id"), "lbl"
        )
        labels = (
            labels.unionByName(nbr)
            .groupBy("rec_id")
            .agg(F.min("lbl").alias("lbl"))
        )
    clustered = recs.join(labels, "rec_id")
    surv = clustered.groupBy("lbl").agg(
        F.count(F.lit(1)).alias("n_recs"),
        F.countDistinct("src").alias("n_src"),
        F.min(
            F.struct(
                F.col("src"),
                (-F.length("name")).alias("neg_len"),
                F.col("rec_id"),
                F.col("name"),
            )
        ).alias("s"),
    )
    return surv.where(F.col("n_recs") >= 2).select(
        F.col("lbl").alias("cluster_id"),
        F.col("n_recs").cast("long").alias("n_recs"),
        F.col("n_src").cast("long").alias("n_src"),
        F.col("s.rec_id").alias("survivor_rec"),
        F.col("s.name").alias("survivor_name"),
    )


def _er_sql() -> str:
    prop = """
, lbl{i} AS (
  SELECT l.rec_id,
         LEAST(l.lbl, COALESCE(MIN(n.lbl), l.lbl)) AS lbl
  FROM lbl{p} l
  LEFT JOIN edges e ON e.u = l.rec_id
  LEFT JOIN lbl{p} n ON n.rec_id = e.v
  GROUP BY l.rec_id, l.lbl
)"""
    rounds = "".join(
        prop.format(i=i + 1, p=i if i else 0) for i in range(_ER_ROUNDS)
    )
    code = " || ".join(
        f"chr(97 + CAST((p_partkey // {26 ** i}) % 26 AS INT))"
        for i in range(5, -1, -1)
    )
    return f"""
WITH p AS (
  SELECT p_partkey, {code} || ' ' || lower(p_name) AS name FROM part
), recs AS (
  SELECT p_partkey * 10 AS rec_id, 0 AS src, name FROM p
  UNION ALL
  SELECT p_partkey * 10 + 1, 1,
         substr(name, 1, 2) || 'x' || substr(name, 4)
  FROM p WHERE p_partkey % 3 = 0
  UNION ALL
  SELECT p_partkey * 10 + 2, 2, substr(name, 1, length(name) - 1)
  FROM p WHERE p_partkey % 7 = 0
), posted AS (
  SELECT DISTINCT rec_id, name,
         substr(name, 1, 2) || substr(name, 4, 3) AS sg, band
  FROM recs, UNNEST([length(name) // 8, (length(name) + 1) // 8])
       AS t(band)
), pairs AS (
  SELECT DISTINCT l.rec_id AS u, r.rec_id AS v, l.name AS ln,
         r.name AS rn
  FROM posted l JOIN posted r
    ON l.sg = r.sg AND l.band = r.band AND l.rec_id < r.rec_id
), scored AS (
  SELECT u, v FROM pairs WHERE levenshtein(ln, rn) <= 2
), edges AS (
  SELECT u, v FROM scored UNION ALL SELECT v, u FROM scored
), lbl0 AS (
  SELECT rec_id, rec_id AS lbl FROM recs
){rounds}
SELECT l.lbl AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_recs,
       CAST(COUNT(DISTINCT r.src) AS BIGINT) AS n_src,
       CAST(MIN(
         struct_pack(src := r.src, neg_len := -length(r.name),
                     rec_id := r.rec_id, name := r.name)
       ).rec_id AS BIGINT) AS survivor_rec,
       MIN(struct_pack(src := r.src, neg_len := -length(r.name),
                       rec_id := r.rec_id, name := r.name)).name
         AS survivor_name
FROM recs r JOIN lbl{_ER_ROUNDS} l ON l.rec_id = r.rec_id
GROUP BY l.lbl
HAVING COUNT(*) >= 2
"""


QUERIES = {
    "er_pipeline_e2e": QuerySpec(
        er_pipeline_e2e, _er_sql(), ("e2e", "entity-resolution", "blocked")
    ),
    "join_fuzzy_name": QuerySpec(
        join_fuzzy_name, _JOIN_FUZZY_NAME_SQL, ("join", "fuzzy", "blocked")
    ),
    "join_score_argmax": QuerySpec(
        join_score_argmax, _JOIN_SCORE_ARGMAX_SQL, ("join", "score", "argmax")
    ),
    "str_name_match": QuerySpec(
        str_name_match, _STR_NAME_MATCH_SQL, ("string", "fuzzy")
    ),
    "url_join": QuerySpec(url_join, _URL_JOIN_SQL, ("url",)),
    "json_key_scan": QuerySpec(json_key_scan, _JSON_KEY_SCAN_SQL, ("json",)),
    "json_normalize_scalar": QuerySpec(
        json_normalize_scalar, _JSON_NORMALIZE_SCALAR_SQL, ("json",)
    ),
    "win_first_success": QuerySpec(
        win_first_success, _WIN_FIRST_SUCCESS_SQL, ("window",)
    ),
}
