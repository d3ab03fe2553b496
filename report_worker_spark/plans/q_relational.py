"""Catalog family: core relational / star / wire / window / agg / join shapes (SURVEY §2 anchors and TPC-H-style OLAP primitives).

Mechanically split from the monolithic plans/catalog.py (round
12); query definition order within the family is the original
file order, and all shared helpers come from ``_qshared``.
"""

from __future__ import annotations

from ._qshared import *  # noqa: F401,F403




# --- P9: name sanitization ---------------------------------------------------


@query(
    "p9_sanitize_name",
    oracle="""
    SELECT c_custkey,
           trim(regexp_replace(lower(c_name), '[_-]', ' ', 'g')) AS clean_name
    FROM customer
    """,
)
def p9_sanitize_name(spark: SparkSession, sf: str) -> DataFrame:
    """Reference src/app/controllers/player.py:23-24."""
    c = load(spark, sf, "customer")
    return c.select(
        "c_custkey", transforms.sanitize_name("c_name").alias("clean_name")
    )




# --- P4: ms→s normalization --------------------------------------------------


@query(
    "p4_normalize_ts",
    oracle=f"""
    SELECT event_id,
           raw_ts,
           CASE WHEN raw_ts > 10000000000 THEN CAST(raw_ts / 1000 AS BIGINT)
                ELSE raw_ts END AS ts_sec
    FROM (SELECT event_id, {_RAW_TS_SQL} AS raw_ts FROM events)
    """,
)
def p4_normalize_ts(spark: SparkSession, sf: str) -> DataFrame:
    """Reference src/main.py:127-129."""
    e = load(spark, sf, "events").withColumn("raw_ts", _raw_ts_col())
    return e.select(
        "event_id", "raw_ts", transforms.normalize_ts("raw_ts").alias("ts_sec")
    )




# --- F1+F2: event-time bounds ------------------------------------------------


@query(
    "f1_f2_ts_bounds",
    oracle=f"""
    WITH norm AS (
      SELECT event_id,
             CASE WHEN raw_ts > 10000000000 THEN CAST(raw_ts / 1000 AS BIGINT)
                  ELSE raw_ts END AS ts_sec
      FROM (SELECT event_id, {_RAW_TS_SQL} AS raw_ts FROM events)
    )
    SELECT event_id, ts_sec FROM norm
    WHERE ts_sec >= {TS_LOWER_BOUND} AND ts_sec <= {TS_UPPER_BOUND}
    """,
)
def f1_f2_ts_bounds(spark: SparkSession, sf: str) -> DataFrame:
    """Reference src/main.py:131-137 — the entire late/early-data policy."""
    e = load(spark, sf, "events").withColumn("raw_ts", _raw_ts_col())
    e = e.select("event_id", transforms.normalize_ts("raw_ts").alias("ts_sec"))
    return transforms.bounds_filter(e, "ts_sec")




# --- P5: epoch→timestamp (UTC) ----------------------------------------------


@query(
    "p5_epoch_to_ts",
    oracle=f"""
    WITH norm AS (
      SELECT event_id,
             CASE WHEN raw_ts > 10000000000 THEN CAST(raw_ts / 1000 AS BIGINT)
                  ELSE raw_ts END AS ts_sec
      FROM (SELECT event_id, {_RAW_TS_SQL} AS raw_ts FROM events)
    )
    SELECT event_id,
           strftime(make_timestamp(ts_sec * 1000000), '%Y-%m-%d %H:%M:%S') AS ts_utc
    FROM norm
    """,
)
def p5_epoch_to_ts(spark: SparkSession, sf: str) -> DataFrame:
    """Reference src/main.py:139-141, pinned to UTC (SURVEY §7 hard part 4)."""
    e = load(spark, sf, "events").withColumn("raw_ts", _raw_ts_col())
    e = e.select("event_id", transforms.normalize_ts("raw_ts").alias("ts_sec"))
    return e.select(
        "event_id",
        F.date_format(
            transforms.epoch_to_timestamp("ts_sec"), "yyyy-MM-dd HH:mm:ss"
        ).alias("ts_utc"),
    )




# --- P8: equipment clamp -----------------------------------------------------


@query(
    "p8_clamp_equipment",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN equip_raw > 32767 THEN 0 ELSE equip_raw END AS equip_weapon_id,
           equip_raw > 32767 AS item_bug
    FROM (SELECT l_orderkey, l_linenumber,
                 CAST(l_partkey % 40000 AS INT) AS equip_raw
          FROM lineitem)
    """,
)
def p8_clamp_equipment(spark: SparkSession, sf: str) -> DataFrame:
    """Reference src/main.py:143-152 — ids over SMALLINT range → 0 + flag."""
    li = load(spark, sf, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_partkey") % 40000).cast("int").alias("equip_weapon_id"),
    )
    out = transforms.clamp_equipment(li, slots=["equip_weapon_id"])
    return out.select("l_orderkey", "l_linenumber", "equip_weapon_id", "item_bug")




# --- S3/P1: JSON field extraction (wire parse analog) ------------------------


@query(
    "s3_json_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
    FROM events
    """,
)
def s3_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    """from_json/get_json_object replaces pydantic parse (SURVEY §1.3)."""
    e = load(spark, sf, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
    )




# --- P10: version dispatch ---------------------------------------------------


@query(
    "p10_version_dispatch",
    oracle="""
    SELECT event_id, 'v1.0.0' AS version, user_id * 2 AS resolved_id
    FROM events WHERE event_id % 2 = 0
    UNION ALL
    SELECT event_id, 'v2.0.0' AS version, user_id AS resolved_id
    FROM events WHERE event_id % 2 = 1
    """,
)
def p10_version_dispatch(spark: SparkSession, sf: str) -> DataFrame:
    """Reference src/main.py:198-209: route on version, transform per
    branch, re-merge (unionByName)."""
    e = load(spark, sf, "events").withColumn(
        "version",
        F.when(F.col("event_id") % 2 == 0, F.lit("v1.0.0")).otherwise(
            F.lit("v2.0.0")
        ),
    )
    v1 = e.filter(F.col("version") == "v1.0.0").select(
        "event_id", "version", (F.col("user_id") * 2).alias("resolved_id")
    )
    v2 = e.filter(F.col("version") == "v2.0.0").select(
        "event_id", "version", F.col("user_id").alias("resolved_id")
    )
    return v1.unionByName(v2)




# --- J1: dim lookup join (stream-static broadcast) ---------------------------


@query(
    "j1_dim_lookup",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def j1_dim_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """Reference per-row name→id lookup + LRU cache collapsed into one
    broadcast left join (src/app/controllers/player.py:29-52)."""
    e = load(spark, sf, "events")
    c = load(spark, sf, "customer")
    return e.join(
        F.broadcast(c), e.user_id == c.c_custkey, "left"
    ).select("event_id", "user_id", "c_name", "c_mktsegment")




# --- F3: null-guard on resolved ids ------------------------------------------


@query(
    "f3_null_guard",
    oracle="""
    SELECT e.event_id, c.c_custkey AS resolved_id
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    WHERE c.c_custkey IS NOT NULL
    """,
)
def f3_null_guard(spark: SparkSession, sf: str) -> DataFrame:
    """Reference Reporter/ReportedDoesNotExist skip (src/main.py:110-117)."""
    e = load(spark, sf, "events")
    c = load(spark, sf, "customer")
    joined = e.join(F.broadcast(c), e.user_id == c.c_custkey, "left").select(
        "event_id", F.col("c_custkey").alias("resolved_id")
    )
    return transforms.require_not_null(joined, ["resolved_id"])




# --- J2: get-or-insert (new-name delta with deterministic ids) ---------------


@query(
    "j2_get_or_insert_delta",
    oracle="""
    WITH missing AS (
      SELECT DISTINCT e.user_id AS name
      FROM events e LEFT JOIN supplier s ON e.user_id = s.s_suppkey
      WHERE s.s_suppkey IS NULL
    )
    SELECT name, dense_rank() OVER (ORDER BY name ASC NULLS FIRST) AS id
    FROM missing
    """,
)
def j2_get_or_insert_delta(spark: SparkSession, sf: str) -> DataFrame:
    """Write-half of get-or-insert (reference player.py:54-58): the
    anti-joined new-key delta with deterministic (rank-mode) ids."""
    e = load(spark, sf, "events").select(F.col("user_id").alias("name"))
    dim = load(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("name"), F.col("s_suppkey").alias("id")
    )
    _, new_rows = star.get_or_insert_dim(e, dim, key_mode="rank")
    return new_rows




# --- J3: NOT EXISTS anti-join ------------------------------------------------


@query(
    "j3_anti_join",
    oracle="""
    SELECT DISTINCT e.user_id
    FROM events e
    WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = e.user_id)
    """,
)
def j3_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    """Reference report.py:170-241 insert guards."""
    e = load(spark, sf, "events").select("user_id")
    s = load(spark, sf, "supplier")
    return star.dedup(
        star.anti_join_new(
            e, s.select(F.col("s_suppkey").alias("user_id")), ["user_id"],
        ),
        ["user_id"],
    )




# --- A1: multi-column DISTINCT ----------------------------------------------


@query(
    "a1_distinct",
    oracle="""
    SELECT DISTINCT l_returnflag, l_linestatus,
           nullif(l_linenumber % 3, 0) AS g1
    FROM lineitem
    """,
)
def a1_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """DISTINCT incl. NULL keys — dropDuplicates is null-safe like
    DISTINCT (reference report.py:174,199-209,231)."""
    li = load(spark, sf, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.nullif(F.col("l_linenumber") % 3, F.lit(0)).alias("g1"),
    )
    return star.dedup(li, ["l_returnflag", "l_linestatus", "g1"])




# --- A2: unique-key idempotent dedup (INSERT IGNORE semantics) ---------------


@query(
    "a2_unique_key_dedup",
    oracle="""
    SELECT user_id, event_type, min(event_id) AS first_event_id,
           count(*) AS n_dups
    FROM events GROUP BY user_id, event_type
    """,
)
def a2_unique_key_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """INSERT IGNORE on a unique key keeps one row per key; stated
    deterministically as min-id per key (reference 01_tables.sql:79-84)."""
    e = load(spark, sf, "events")
    return e.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("first_event_id"),
        F.count(F.lit(1)).alias("n_dups"),
    )




# --- J4: null-safe multi-col surrogate-key join ------------------------------


@query(
    "j4_nullsafe_fk_join",
    oracle="""
    WITH base AS (
      SELECT l_orderkey, l_linenumber,
             nullif(l_partkey % 3, 0) AS g1,
             nullif(l_suppkey % 4, 0) AS g2
      FROM lineitem
    ), dim AS (
      SELECT g1, g2,
             dense_rank() OVER (ORDER BY g1 ASC NULLS FIRST, g2 ASC NULLS FIRST) AS gear_id
      FROM (SELECT DISTINCT g1, g2 FROM base)
    )
    SELECT d.gear_id, b.g1, b.g2, count(*) AS n_rows
    FROM base b JOIN dim d
      ON b.g1 IS NOT DISTINCT FROM d.g1 AND b.g2 IS NOT DISTINCT FROM d.g2
    GROUP BY d.gear_id, b.g1, b.g2
    """,
)
def j4_nullsafe_fk_join(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's FK-resolve join done with *intended* NULL
    semantics (`<=>`): MySQL `=` silently drops NULL-gear rows
    (reference report.py:256-283; SURVEY §2 J4)."""
    li = load(spark, sf, "lineitem")
    base = li.select(
        "l_orderkey",
        "l_linenumber",
        F.nullif(F.col("l_partkey") % 3, F.lit(0)).alias("g1"),
        F.nullif(F.col("l_suppkey") % 4, F.lit(0)).alias("g2"),
    )
    dim = star.build_dim(base, ["g1", "g2"], "gear_id", key_mode="rank")
    resolved = star.resolve_fk(base, dim, ["g1", "g2"], "gear_id")
    return resolved.groupBy("gear_id", "g1", "g2").agg(
        F.count(F.lit(1)).alias("n_rows")
    )




@query(
    "star_upsert_fact",
    oracle=f"""
    WITH staging AS ({_STAR_STAGING_SQL}),
    sight AS (
      SELECT reporting_id, reported_id, manual_detect,
             dense_rank() OVER (ORDER BY reporting_id ASC NULLS FIRST,
                                reported_id ASC NULLS FIRST,
                                manual_detect ASC NULLS FIRST) AS sighting_id
      FROM (SELECT DISTINCT reporting_id, reported_id, manual_detect FROM staging)
    ),
    gear AS (
      SELECT equip_head_id, equip_weapon_id,
             dense_rank() OVER (ORDER BY equip_head_id ASC NULLS FIRST,
                                equip_weapon_id ASC NULLS FIRST) AS gear_id
      FROM (SELECT DISTINCT equip_head_id, equip_weapon_id FROM staging)
    ),
    loc AS (
      SELECT region_id, x_coord, y_coord, z_coord,
             dense_rank() OVER (ORDER BY region_id ASC NULLS FIRST,
                                x_coord ASC NULLS FIRST,
                                y_coord ASC NULLS FIRST,
                                z_coord ASC NULLS FIRST) AS location_id
      FROM (SELECT DISTINCT region_id, x_coord, y_coord, z_coord FROM staging)
    )
    SELECT DISTINCT s.sighting_id, l.location_id, g.gear_id, st.region_id
    FROM staging st
    JOIN sight s ON st.reporting_id IS NOT DISTINCT FROM s.reporting_id
               AND st.reported_id IS NOT DISTINCT FROM s.reported_id
               AND st.manual_detect IS NOT DISTINCT FROM s.manual_detect
    JOIN gear g ON st.equip_head_id IS NOT DISTINCT FROM g.equip_head_id
              AND st.equip_weapon_id IS NOT DISTINCT FROM g.equip_weapon_id
    JOIN loc l ON st.region_id IS NOT DISTINCT FROM l.region_id
             AND st.x_coord IS NOT DISTINCT FROM l.x_coord
             AND st.y_coord IS NOT DISTINCT FROM l.y_coord
             AND st.z_coord IS NOT DISTINCT FROM l.z_coord
    """,
)
def star_upsert_fact(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's whole per-batch MySQL transaction as set algebra
    (report.py:84-311): DISTINCT dims + null-safe FK resolve + fact-PK
    dedup. Rank-mode surrogate keys for oracle parity; the streaming
    deployment uses hash mode (star.py)."""
    # cache: the staging frame feeds three dim builds + the fact join —
    # without it the events scan + JSON extraction runs four times
    staging = _star_staging(spark, sf).cache()
    sight = star.build_dim(
        staging, ["reporting_id", "reported_id", "manual_detect"], "sighting_id",
        key_mode="rank",
    )
    gear = star.build_dim(
        staging, ["equip_head_id", "equip_weapon_id"], "gear_id", key_mode="rank"
    )
    loc = star.build_dim(
        staging, ["region_id", "x_coord", "y_coord", "z_coord"], "location_id",
        key_mode="rank",
    )
    fact = star.resolve_fk(
        staging, sight, ["reporting_id", "reported_id", "manual_detect"],
        "sighting_id",
    )
    fact = star.resolve_fk(fact, gear, ["equip_head_id", "equip_weapon_id"], "gear_id")
    fact = star.resolve_fk(
        fact, loc, ["region_id", "x_coord", "y_coord", "z_coord"], "location_id"
    )
    return star.dedup(
        fact.select("sighting_id", "location_id", "gear_id", "region_id"),
        ["sighting_id", "location_id", "gear_id", "region_id"],
    )




# --- Flagship: top-reported entities (entry) ---------------------------------


@query(
    "flagship_top_reported",
    oracle="""
    WITH agg AS (
      SELECT e.user_id, max(c.c_name) AS name, count(*) AS n_reports
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY e.user_id
    )
    SELECT user_id, name, n_reports FROM (
      SELECT user_id, name, n_reports,
             row_number() OVER (ORDER BY n_reports DESC, user_id ASC) AS rn
      FROM agg
    ) WHERE rn <= 25
    """,
)
def flagship_top_reported(spark: SparkSession, sf: str) -> DataFrame:
    """Most-reported entities: dim join + agg + deterministic top-k —
    the reference's read-side raison d'être (SURVEY §7 minimum slice)."""
    e = load(spark, sf, "events")
    c = load(spark, sf, "customer")
    # Aggregate FIRST on the narrow key (pure-numeric buffer → hash
    # aggregate with map-side partials), then broadcast-join the names:
    # joining before aggregating puts max(string) in the agg buffer and
    # demotes the whole stage to SortAggregate (seen in .explain), and
    # shuffles wide rows instead of (key, count) pairs.
    agg = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_reports"))
        .join(F.broadcast(c), F.col("user_id") == c.c_custkey)
        .select("user_id", F.col("c_name").alias("name"), "n_reports")
    )
    w = Window.orderBy(F.col("n_reports").desc(), F.col("user_id").asc())
    return (
        agg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 25)
        .select("user_id", "name", "n_reports")
    )




# ===========================================================================
# Coverage round 2: remaining §2 ops + analytics extensions
# ===========================================================================

# --- P1: struct flatten ------------------------------------------------------


@query(
    "p1_flatten_struct",
    oracle="""
    SELECT event_id, user_id AS uid, event_type AS etype
    FROM events
    """,
)
def p1_flatten_struct(spark: SparkSession, sf: str) -> DataFrame:
    """Build a nested struct then flatten it back (reference
    src/main.py:166-174 equipment.* promotion)."""
    e = load(spark, sf, "events").select(
        "event_id",
        F.struct(
            F.col("user_id").alias("uid"), F.col("event_type").alias("etype")
        ).alias("nested"),
    )
    return transforms.flatten_struct(e, "nested")




# --- P2/P3: projection + rename ---------------------------------------------


@query(
    "p2_p3_project_rename",
    oracle="""
    SELECT event_id AS report_id, user_id AS reporting_id,
           value AS score, ts AS reported_at
    FROM events
    """,
)
def p2_p3_project_rename(spark: SparkSession, sf: str) -> DataFrame:
    """Column-subset projection + wire→staging re-keying (reference
    report.py:52-82, 119-167)."""
    e = load(spark, sf, "events")
    return e.select(
        F.col("event_id").alias("report_id"),
        F.col("user_id").alias("reporting_id"),
        F.col("value").alias("score"),
        F.col("ts").alias("reported_at"),
    )




# --- P6/P7: int→bool and bool/None→int defaults ------------------------------


@query(
    "p6_p7_bool_roundtrip",
    oracle="""
    SELECT event_id,
           CAST(flag_int AS BOOLEAN) AS manual_detect,
           coalesce(CAST(CAST(flag_int AS BOOLEAN) AS INT), 0) AS manual_detect_wire,
           coalesce(CAST(null_flag AS INT), 0) AS null_flag_wire
    FROM (SELECT event_id,
                 CAST(event_id % 2 AS INT) AS flag_int,
                 CAST(NULL AS BOOLEAN) AS null_flag
          FROM events)
    """,
)
def p6_p7_bool_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Wire 0/1 → boolean → back to int with None→0 (reference
    src/main.py:162-164; views/report.py:188-204)."""
    e = load(spark, sf, "events").select(
        "event_id",
        (F.col("event_id") % 2).cast("int").alias("flag_int"),
        F.lit(None).cast("boolean").alias("null_flag"),
    )
    e = transforms.int_to_bool(e.withColumnRenamed("flag_int", "manual_detect"),
                               ["manual_detect"])
    return e.select(
        "event_id",
        "manual_detect",
        transforms.bool_to_int_default0("manual_detect").alias("manual_detect_wire"),
        transforms.bool_to_int_default0("null_flag").alias("null_flag_wire"),
    )




# --- P11: timestamp → epoch ms re-encode -------------------------------------


@query(
    "p11_epoch_ms_reencode",
    oracle="""
    SELECT event_id,
           CAST(floor(epoch(ts)) AS BIGINT) * 1000 AS ts_ms
    FROM events
    """,
)
def p11_epoch_ms_reencode(spark: SparkSession, sf: str) -> DataFrame:
    """DLQ re-encode path (reference views/report.py:188)."""
    e = load(spark, sf, "events")
    return e.select(
        "event_id", transforms.timestamp_to_epoch_ms("ts").alias("ts_ms")
    )




# --- S4: JSON serialization --------------------------------------------------


@query(
    "s4_json_serialize",
    oracle="""
    SELECT event_id,
           to_json(struct_pack(event_id := event_id,
                               user_id := user_id,
                               event_type := event_type)) AS payload
    FROM events
    """,
)
def s4_json_serialize(spark: SparkSession, sf: str) -> DataFrame:
    """Kafka DLQ serialization (reference src/main.py:83,93). Null-field
    emission pinned on both engines (Spark ignoreNullFields=false)."""
    e = load(spark, sf, "events")
    return e.select(
        "event_id",
        F.to_json(
            F.struct("event_id", "user_id", "event_type"),
            {"ignoreNullFields": "false"},
        ).alias("payload"),
    )




# --- F4: conjunctive equality lookup -----------------------------------------


@query(
    "f4_equality_lookup",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE user_id = 42 AND event_type = 'click'
    """,
)
def f4_equality_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """Point-lookup predicate shape (reference player.py:32,
    report.py:29-35) — pushdown-friendly conjunctive equality."""
    e = load(spark, sf, "events")
    return e.filter(
        (F.col("user_id") == 42) & (F.col("event_type") == "click")
    ).select("event_id", "user_id", "event_type", "value")




# --- J5: sighting-subset fan-out join ---------------------------------------


@query(
    "j5_fanout_join",
    oracle="""
    WITH sight AS (
      SELECT DISTINCT user_id, event_type,
             event_type = 'error' AS manual
      FROM events
    )
    SELECT e.event_id, s.event_type AS sight_type, s.manual
    FROM events e JOIN sight s ON e.user_id = s.user_id
                              AND e.event_type = s.event_type
    """,
)
def j5_fanout_join(spark: SparkSession, sf: str) -> DataFrame:
    """The reference fact-join uses a SUBSET of the sighting unique key
    and can fan out (report.py:266-268 vs 01_tables.sql:102) —
    reproduced deliberately; dropDuplicates downstream collapses it."""
    e = load(spark, sf, "events")
    sight = e.select(
        "user_id", "event_type", (F.col("event_type") == "error").alias("manual")
    ).dropDuplicates(["user_id", "event_type", "manual"])
    return e.join(sight, on=["user_id", "event_type"]).select(
        "event_id",
        F.col("event_type").alias("sight_type"),
        "manual",
    )




# --- A4: hit/miss counters (observe) ----------------------------------------


@query(
    "a4_lookup_hit_miss",
    oracle="""
    SELECT count(*) FILTER (WHERE c.c_custkey IS NOT NULL) AS hits,
           count(*) FILTER (WHERE c.c_custkey IS NULL) AS misses
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def a4_lookup_hit_miss(spark: SparkSession, sf: str) -> DataFrame:
    """The LRU cache's hit/miss telemetry (reference _cache.py:13-23)
    as one aggregate over the set-based lookup."""
    e = load(spark, sf, "events")
    c = load(spark, sf, "customer")
    j = e.join(F.broadcast(c), e.user_id == c.c_custkey, "left")
    return j.agg(
        F.count(F.when(F.col("c_custkey").isNotNull(), 1)).alias("hits"),
        F.count(F.when(F.col("c_custkey").isNull(), 1)).alias("misses"),
    )




# --- Analytics extensions: windows / sessions / grouping sets ----------------


@query(
    "win_topk_per_group",
    oracle="""
    SELECT event_type, rn, event_id, value
    FROM (SELECT event_type, event_id, value,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY value DESC, event_id ASC) AS rn
          FROM events)
    WHERE rn <= 3
    """,
)
def win_topk_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """Top-k per group — partitioned window, deterministic tiebreak."""
    e = load(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("event_type", "rn", "event_id", "value")
    )




@query(
    "win_running_sum",
    oracle="""
    SELECT event_id, user_id,
           CAST(sum(CAST(round(value * 100) AS BIGINT))
                OVER (PARTITION BY user_id
                      ORDER BY ts ASC, event_id ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS running_cents
    FROM events
    """,
)
def win_running_sum(spark: SparkSession, sf: str) -> DataFrame:
    """Running aggregate per key. Summed in integer cents: windowed
    float sums associate differently across engines (DuckDB segment
    trees vs Spark running state), so only exact arithmetic is
    oracle-comparable."""
    e = load(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cents = F.round(F.col("value") * 100).cast("long")
    return e.select(
        "event_id", "user_id", F.sum(cents).over(w).alias("running_cents")
    )




@query(
    "sessionize_gap30m",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                         OVER (PARTITION BY user_id
                               ORDER BY ts ASC, event_id ASC)
                       > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts ASC, event_id ASC) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sess AS (
      SELECT user_id, event_id,
             CAST(sum(new_session)
                  OVER (PARTITION BY user_id
                        ORDER BY ts ASC, event_id ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_idx
      FROM gaps
    )
    SELECT user_id, session_idx, count(*) AS n_events
    FROM sess GROUP BY user_id, session_idx
    """,
)
def sessionize_gap30m(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization: 30-min-gap sessions via lag + running sum — the
    batch analog of streaming session_window."""
    e = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    prev = F.lag("ts").over(w)
    # microsecond precision on both sides: second-truncated gaps would
    # disagree with the oracle's full-precision interval comparison
    new_sess = F.when(
        prev.isNull()
        | ((_usec(F.col("ts")) - _usec(prev)) > 1800000000),
        1,
    ).otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = e.withColumn("new_session", new_sess).withColumn(
        "session_idx", F.sum("new_session").over(wsum)
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events")
    )




@query(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           grouping(l_returnflag) AS g_flag,
           grouping(l_linestatus) AS g_status,
           sum(l_quantity) AS sum_qty,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Hierarchical totals (ROLLUP + GROUPING markers)."""
    li = load(spark, sf, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("long").alias("g_flag"),
        F.grouping("l_linestatus").cast("long").alias("g_status"),
        F.sum("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )




@query(
    "agg_pivot",
    oracle="""
    SELECT l_returnflag,
           sum(l_quantity) FILTER (WHERE l_linestatus = 'O') AS qty_o,
           sum(l_quantity) FILTER (WHERE l_linestatus = 'F') AS qty_f
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot on a closed category set == conditional aggregation."""
    li = load(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.sum(F.when(F.col("l_linestatus") == "O", F.col("l_quantity"))).alias(
            "qty_o"
        ),
        F.sum(F.when(F.col("l_linestatus") == "F", F.col("l_quantity"))).alias(
            "qty_f"
        ),
    )




# ===========================================================================
# Coverage round 3: composite joins (as-of, range), set ops, big joins
# ===========================================================================


@query(
    "join_asof",
    oracle="""
    WITH orders_d AS (
      SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, o.o_orderkey
    FROM events e ASOF LEFT JOIN orders_d o
      ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    """,
)
def join_asof(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join (Spark has no native one): latest order at or before
    each event, per user — union + single partitioned window
    carry-forward (operators.asof_join), one shuffle. Right side is
    pre-deduped per (key, time) so the match is deterministic on both
    engines (native ASOF tie-breaks are unspecified)."""
    from ..operators import asof_join

    e = load(spark, sf, "events").select(
        "event_id",
        F.col("user_id"),
        _usec(F.col("ts")).alias("_ts_us"),
    )
    o = (
        load(spark, sf, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
        .select(
            F.col("o_custkey").alias("user_id"),
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("_od_us"),
            "o_orderkey",
        )
    )
    out = asof_join(
        e, o, on="user_id", left_time="_ts_us", right_time="_od_us",
        right_payload=["o_orderkey"],
    )
    return out.select("event_id", "user_id", "o_orderkey")




@query(
    "join_range_bucket",
    oracle="""
    WITH ranges AS (
      SELECT n_nationkey AS range_id,
             CAST(n_nationkey * 4 AS DOUBLE) AS lo,
             CAST(n_nationkey * 4 + 3 AS DOUBLE) AS hi
      FROM nation
    )
    SELECT e.event_id, r.range_id, e.value
    FROM events e JOIN ranges r ON e.value >= r.lo AND e.value < r.hi
    """,
)
def join_range_bucket(spark: SparkSession, sf: str) -> DataFrame:
    """Range (theta) join via bucketization → equi-join + re-check
    (operators.range_join_buckets): fan-out = range_width/bucket_width
    instead of |left|×|ranges|."""
    from ..operators import range_join_buckets

    e = load(spark, sf, "events").select("event_id", "value")
    r = load(spark, sf, "nation").select(
        F.col("n_nationkey").alias("range_id"),
        (F.col("n_nationkey") * 4).cast("double").alias("lo"),
        (F.col("n_nationkey") * 4 + 3).cast("double").alias("hi"),
    )
    out = range_join_buckets(e, r, "value", "lo", "hi", bucket_width=4)
    return out.select("event_id", "range_id", "value")




@query(
    "setop_users",
    oracle="""
    SELECT 'both' AS op, user_id FROM
      (SELECT user_id FROM events WHERE event_type = 'click'
       INTERSECT
       SELECT user_id FROM events WHERE event_type = 'error')
    UNION ALL
    SELECT 'click_only' AS op, user_id FROM
      (SELECT user_id FROM events WHERE event_type = 'click'
       EXCEPT
       SELECT user_id FROM events WHERE event_type = 'error')
    """,
)
def setop_users(spark: SparkSession, sf: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL set algebra."""
    e = load(spark, sf, "events")
    clicks = e.filter(F.col("event_type") == "click").select("user_id")
    errors = e.filter(F.col("event_type") == "error").select("user_id")
    both = clicks.intersect(errors).select(F.lit("both").alias("op"), "user_id")
    # subtract == EXCEPT (distinct) — exceptAll's bag semantics would
    # only remove one occurrence per matching key
    only = clicks.subtract(errors).select(
        F.lit("click_only").alias("op"), "user_id"
    )
    return both.unionAll(only)




@query(
    "join_bigbig_revenue",
    oracle="""
    SELECT o.o_orderpriority,
           count(*) AS n_items,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_bigbig_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Fact-fact equi-join + aggregate: the shuffle-join representative
    (both sides scale with the data; Catalyst/AQE picks SMJ or
    broadcast by measured size). Integer-cents sum for oracle parity."""
    li = load(spark, sf, "lineitem")
    o = load(spark, sf, "orders")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(cents).alias("revenue_cents"),
        )
    )




@query(
    "agg_count_distinct",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def agg_count_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Exact distinct aggregation (expand+two-phase in Spark)."""
    e = load(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )




@query("agg_approx_distinct")  # HLL sketch: engine-specific, rows-only check
def agg_approx_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the 100 TB path for
    distinct counts; deterministic per engine, not across engines.
    Hash-tier twin: agg_approx_distinct_error_bound (below) pins the
    SAME estimator against exact counts within its advertised rsd."""
    e = load(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("n_users_approx")
    )


@query(
    "agg_approx_distinct_error_bound",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
           TRUE AS est_within_bound
    FROM events GROUP BY event_type
    """,
)
def agg_approx_distinct_error_bound(
    spark: SparkSession, sf: str
) -> DataFrame:
    """Hash-tier twin of `agg_approx_distinct` (VERDICT_r12 item 8):
    runs the SAME HyperLogLog++ estimator (rsd=0.02) side by side with
    the exact distinct count and hash-pins (a) the exact counts
    cross-engine and (b) that the estimate lands within 5·rsd of
    exact plus a small absolute floor for every group. The 3·rsd
    bound a first draft used is only ~99.7% per group under the HLL++
    error model — a legitimate estimator outlier on ANY group would
    flip the hashed boolean with no actual bug (ADVICE r13); 5·rsd + 8
    keeps the contract meaningful (a broken estimator still trips it)
    while making a fixture-driven false alarm essentially impossible.

    Deliberately NOT an exactness pin: a first r13 version bounded the
    domain (user_id % 512) and claimed the estimate must EQUAL exact
    there, but Spark's HLL++ has no sparse-exact regime — a ~300-value
    subset of a 512 domain estimates 303 on this build (review
    finding, reproduced) — the fixture's prefix-shaped residue sets
    just happened to round exactly. Estimates themselves stay OUT of
    the hashed output (engine-specific); what's hashed is exact counts
    plus the tolerance verdict, both engine-portable at any scale
    factor."""
    e = load(spark, sf, "events")
    per = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("_est"),
        F.countDistinct("user_id").cast("long").alias("n_users_exact"),
    )
    err = F.abs(F.col("_est") - F.col("n_users_exact")).cast("double")
    return per.select(
        "event_type",
        "n_users_exact",
        (err <= 5 * 0.02 * F.col("n_users_exact") + 8).alias(
            "est_within_bound"
        ),
    )




@query("wire_pipeline_staging", oracle=_WIRE_ORACLE)
def wire_pipeline_staging(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's ENTIRE ingest transform chain (parse → version
    dispatch → v1 get-or-insert resolve → normalize → bounds → clamp →
    flatten) over a synthetic corpus — the streaming code path run as a
    batch (identical function, SURVEY §3).

    Oracle-ified in round 5 (VERDICT_r4 item 3): the corpus is the
    md5-keystream wiregen (sources/synthetic.generate_reports_hashed),
    deterministic in (seed, msg_id) alone — every draw is integer
    modular arithmetic on a uint32 md5 prefix, so DuckDB reproduces the
    corpus AND the full chain (dispatch, dim resolve, ms→s normalize
    with the truncating cast, bounds, SMALLINT clamp + item_bug flag,
    bool casts) bit-for-bit. The final timestamp is compared as a UTC
    string on both sides (p5's proven pattern) to keep the hash
    engine-portable.

    Oracle validity domain (found by the r6 all-sf parity sweep): the
    SQL twin models the v1 resolve as a dim JOIN, which equals the
    engine's get-or-INSERT only while the seeded dim covers the
    generator's full 300-name space — true at every driver gate sf
    (customer ≥ 300 rows, i.e. sf ≥ 0.002). Below that, inserted ids
    are xxhash64 surrogates (deliberately not SQL-reproducible — the
    same reason the hash-mode id paths elsewhere are rows-only), so
    the twin diverges BY DESIGN rather than silently: at sf0.001 the
    oracle under-counts (1388 vs 2187) instead of fabricating ids."""
    from ..sources import kafka as ksrc
    from ..sources.synthetic import generate_report_json_hashed
    from ..streaming.pipeline import wire_to_staging

    # localCheckpoint truncates lineage at the 20k-row JSON corpus
    # (2 string cols, ~8 MB): the md5 draws are DETERMINISTIC, so
    # without a barrier CollapseProject inlines the whole 32-draw
    # generator into every downstream column reference and Catalyst's
    # constraint propagation blows the driver heap. The rand() version
    # never hit this only because non-deterministic projections don't
    # collapse. Bounded by construction (n=20k).
    raw = generate_report_json_hashed(spark, n=20_000, seed=42).localCheckpoint()
    parsed = ksrc.parse_wire(raw)
    msgs = ksrc.valid_messages(parsed)
    players = load(spark, sf, "customer").select(
        F.concat(F.lit("player"), (F.col("c_custkey") % 300)).alias("name"),
        (F.col("c_custkey") % 300).alias("id"),
    ).dropDuplicates(["name"])
    out = wire_to_staging(msgs, players)
    return out.withColumn(
        "ts_utc", F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss")
    ).drop("timestamp")




@query(
    "agg_salted_twophase",
    oracle="""
    SELECT user_id, count(*) AS n_events
    FROM events GROUP BY user_id
    """,
)
def agg_salted_twophase(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-resistant aggregation: salt the key, partial-aggregate on
    (key, salt), then final-aggregate on key. Result ≡ plain GROUP BY
    (the oracle); the shape bounds any one reducer's load to ~1/16 of
    the hottest key — the manual analog of AQE skew handling, usable
    where AQE can't see the skew (e.g. pre-agg before a stateful op)."""
    e = load(spark, sf, "events")
    salted = e.withColumn("_salt", (F.col("event_id") % 16).cast("int"))
    partial = salted.groupBy("user_id", "_salt").agg(
        F.count(F.lit(1)).alias("_n")
    )
    return partial.groupBy("user_id").agg(F.sum("_n").alias("n_events"))




@query(
    "tfidf_top_terms",
    oracle="""
    WITH tf AS (
      SELECT doc_id, g AS term, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS g
            FROM documents)
      GROUP BY doc_id, g
    ), df AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ), n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS score
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    )
    SELECT doc_id, rn AS rank, term, score
    FROM (SELECT doc_id, term, score,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, term ASC) AS rn
          FROM scored)
    WHERE rn <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf×(N/df) — linear
    idf instead of log: tf·N is exact integer arithmetic and /df one
    IEEE division (bit-reproducible; ln() differs by ULPs across
    libms). Shape: one explode + two hash aggs + broadcast df join;
    N stays in the plan as a broadcast 1-row aggregate (a driver-side
    .count() would serialize an extra job before the real one)."""
    from ..util import spread

    d = spread(load(spark, sf, "documents"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    terms = d.select(
        "doc_id", F.explode(tx.tokens("text")).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "rank", "term", "score")
    )




@query(
    "j3_anti_join_reference_bug",
    oracle="""
    WITH batch AS (
      SELECT l_orderkey, l_linenumber,
             nullif(l_partkey % 5, 0) AS g1
      FROM lineitem WHERE l_orderkey % 10 = 0
    ), existing AS (
      SELECT DISTINCT l_orderkey, nullif(l_partkey % 5, 0) AS g1
      FROM lineitem WHERE l_orderkey % 20 = 0
    )
    SELECT b.l_orderkey, b.l_linenumber, b.g1
    FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM existing e
                      WHERE e.l_orderkey = b.l_orderkey AND e.g1 = b.g1)
    """,
)
def j3_anti_join_reference_bug(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's ACTUAL anti-join semantics (MySQL `=`, NOT the
    intended ones): NULL keys never match, so NULL-gear rows re-insert
    forever (reference report.py:170-241; SURVEY §2 J4 trap). Kept
    bug-compatible behind null_safe=False and oracle-verified, so the
    divergence between intended and actual is itself tested."""
    li = load(spark, sf, "lineitem")
    batch = li.filter(F.col("l_orderkey") % 10 == 0).select(
        "l_orderkey",
        "l_linenumber",
        F.nullif(F.col("l_partkey") % 5, F.lit(0)).alias("g1"),
    )
    existing = (
        li.filter(F.col("l_orderkey") % 20 == 0)
        .select(
            "l_orderkey", F.nullif(F.col("l_partkey") % 5, F.lit(0)).alias("g1")
        )
        .dropDuplicates(["l_orderkey", "g1"])
    )
    return star.anti_join_new(
        batch, existing, ["l_orderkey", "g1"], null_safe=False
    )




@query(
    "grouped_median_pandas",
    oracle="""
    SELECT event_type,
           CAST(quantile_disc(CAST(round(value * 100) AS BIGINT), 0.5)
                AS BIGINT) AS median_cents,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def grouped_median_pandas(spark: SparkSession, sf: str) -> DataFrame:
    """Custom per-group operator via applyInPandas (grouped-map Arrow
    path): exact discrete median per group in pandas. Demonstrates the
    (b) escape hatch of SURVEY §7 — used only when built-ins can't
    express the op; integer cents keep it oracle-comparable.

    quantile_disc(0.5) = the value at ceil(n/2) in sorted order (lower
    middle for even n), reproduced exactly in the kernel."""
    import pandas as pd

    e = load(spark, sf, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        s = pdf["cents"].sort_values().reset_index(drop=True)
        n = len(s)
        med = int(s.iloc[(n - 1) // 2]) if n else None
        return pd.DataFrame(
            [
                {
                    "event_type": pdf["event_type"].iloc[0],
                    "median_cents": med,
                    "n": n,
                }
            ]
        )

    return e.groupBy("event_type").applyInPandas(
        kernel, schema="event_type string, median_cents long, n long"
    )




@query(
    "j_semi_exists",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM events e
                  WHERE e.user_id = c.c_custkey AND e.event_type = 'purchase')
    """,
)
def j_semi_exists(spark: SparkSession, sf: str) -> DataFrame:
    """EXISTS == left-semi join (the positive twin of the J3 anti-join)."""
    c = load(spark, sf, "customer")
    e = load(spark, sf, "events").filter(F.col("event_type") == "purchase")
    return c.join(
        e.select(F.col("user_id").alias("c_custkey")), on="c_custkey",
        how="left_semi",
    ).select("c_custkey", "c_name")




@query(
    "reshape_unpivot",
    oracle="""
    SELECT event_id, kind, CAST(val AS DOUBLE) AS val
    FROM (SELECT event_id, value AS raw_value,
                 CAST(user_id AS DOUBLE) AS uid_as_val
          FROM events)
    UNPIVOT (val FOR kind IN (raw_value, uid_as_val))
    """,
)
def reshape_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    """Wide→long unpivot (melt)."""
    e = load(spark, sf, "events").select(
        "event_id",
        F.col("value").alias("raw_value"),
        F.col("user_id").cast("double").alias("uid_as_val"),
    )
    return e.unpivot(
        ids=["event_id"], values=["raw_value", "uid_as_val"],
        variableColumnName="kind", valueColumnName="val",
    )




@query(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           grouping(l_returnflag) AS g_flag,
           grouping(l_linestatus) AS g_status,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE grouping sets with grouping markers."""
    li = load(spark, sf, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("long").alias("g_flag"),
        F.grouping("l_linestatus").cast("long").alias("g_status"),
        F.count(F.lit(1)).alias("n_rows"),
    )




@query(
    "scd2_dim_history",
    oracle="""
    WITH cur AS (
      SELECT c_custkey AS k, c_mktsegment AS seg,
             TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
             CAST(NULL AS TIMESTAMP) AS valid_to,
             TRUE AS is_current
      FROM customer
    ), upd AS (
      SELECT DISTINCT e.user_id AS k, 'FLAGGED' AS seg,
             TIMESTAMP '2024-02-01 00:00:00' AS eff
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      WHERE e.event_type = 'error'
    ), to_apply AS (
      SELECT u.k, u.seg, u.eff
      FROM upd u LEFT JOIN cur c ON u.k = c.k
      WHERE c.k IS NULL OR NOT (u.seg IS NOT DISTINCT FROM c.seg)
    )
    SELECT c.k, c.seg, c.valid_from, a.eff AS valid_to, FALSE AS is_current
    FROM cur c JOIN to_apply a ON c.k = a.k
    UNION ALL
    SELECT c.k, c.seg, c.valid_from, c.valid_to, c.is_current
    FROM cur c WHERE NOT EXISTS (SELECT 1 FROM to_apply a WHERE a.k = c.k)
    UNION ALL
    SELECT k, seg, eff AS valid_from, CAST(NULL AS TIMESTAMP) AS valid_to,
           TRUE AS is_current
    FROM to_apply
    """,
)
def scd2_dim_history(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 dimension versioning without MERGE INTO (operators.scd2_merge):
    users with an 'error' event get a FLAGGED segment version; the open
    customer version closes at the effective timestamp."""
    from ..operators import scd2_merge

    c = load(spark, sf, "customer")
    cur = c.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    e = load(spark, sf, "events")
    upd = (
        e.filter(F.col("event_type") == "error")
        .join(c, e.user_id == c.c_custkey)
        .select(
            F.col("user_id").alias("k"),
            F.lit("FLAGGED").alias("seg"),
            F.lit("2024-02-01 00:00:00").cast("timestamp").alias("eff"),
        )
        .dropDuplicates(["k"])
    )
    return scd2_merge(cur, upd, key="k", attrs=["seg"], effective_col="eff")




@query(
    "star_region_rollup",
    oracle=f"""
    WITH staging AS ({_STAR_STAGING_SQL}),
    sight AS (
      SELECT reporting_id, reported_id, manual_detect,
             dense_rank() OVER (ORDER BY reporting_id ASC NULLS FIRST,
                                reported_id ASC NULLS FIRST,
                                manual_detect ASC NULLS FIRST) AS sighting_id
      FROM (SELECT DISTINCT reporting_id, reported_id, manual_detect FROM staging)
    ),
    loc AS (
      SELECT region_id, x_coord, y_coord, z_coord,
             dense_rank() OVER (ORDER BY region_id ASC NULLS FIRST,
                                x_coord ASC NULLS FIRST,
                                y_coord ASC NULLS FIRST,
                                z_coord ASC NULLS FIRST) AS location_id
      FROM (SELECT DISTINCT region_id, x_coord, y_coord, z_coord FROM staging)
    ),
    fact AS (
      SELECT DISTINCT s.sighting_id, l.location_id, st.region_id, s.manual_detect
      FROM staging st
      JOIN sight s ON st.reporting_id IS NOT DISTINCT FROM s.reporting_id
                 AND st.reported_id IS NOT DISTINCT FROM s.reported_id
                 AND st.manual_detect IS NOT DISTINCT FROM s.manual_detect
      JOIN loc l ON st.region_id IS NOT DISTINCT FROM l.region_id
               AND st.x_coord IS NOT DISTINCT FROM l.x_coord
               AND st.y_coord IS NOT DISTINCT FROM l.y_coord
               AND st.z_coord IS NOT DISTINCT FROM l.z_coord
    )
    SELECT region_id,
           count(*) AS n_facts,
           count(DISTINCT sighting_id) AS n_sightings,
           count(*) FILTER (WHERE manual_detect) AS n_manual
    FROM fact GROUP BY region_id
    """,
)
def star_region_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Read-side of the star: per-region activity rollup over the
    upserted fact (dims resolved, PK-distinct) — the kind of analytical
    question the reference's downstream consumers ask of the schema."""
    staging = _star_staging(spark, sf).cache()
    sight = star.build_dim(
        staging, ["reporting_id", "reported_id", "manual_detect"], "sighting_id",
        key_mode="rank",
    )
    loc = star.build_dim(
        staging, ["region_id", "x_coord", "y_coord", "z_coord"], "location_id",
        key_mode="rank",
    )
    fact = star.resolve_fk(
        staging, sight, ["reporting_id", "reported_id", "manual_detect"],
        "sighting_id",
    )
    fact = star.resolve_fk(
        fact, loc, ["region_id", "x_coord", "y_coord", "z_coord"], "location_id"
    )
    fact = star.dedup(
        fact.select("sighting_id", "location_id", "region_id", "manual_detect"),
        ["sighting_id", "location_id", "region_id", "manual_detect"],
    )
    return fact.groupBy("region_id").agg(
        F.count(F.lit(1)).alias("n_facts"),
        F.countDistinct("sighting_id").alias("n_sightings"),
        F.count(F.when(F.col("manual_detect"), 1)).alias("n_manual"),
    )




@query("agg_hll_mergeable")  # DataSketches HLL: engine-specific, rows-only
def agg_hll_mergeable(spark: SparkSession, sf: str) -> DataFrame:
    """MERGEABLE distinct-count sketches (DataSketches HLL, Spark 3.5+):
    per-day sketches built once, then unioned per event_type — the
    re-aggregation property exact distinct counts lack (a day's sketch
    is computed once and rolls up into week/month/any grouping without
    rescanning raw data; the pattern for streaming state and cubes)."""
    e = load(spark, sf, "events")
    daily = (
        e.withColumn("day", F.to_date("ts"))
        .groupBy("event_type", "day")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_users_est"),
            F.count(F.lit(1)).alias("n_days"),
        )
    )




@query(
    "win_lag_delta",
    oracle="""
    SELECT event_id, user_id,
           CAST(round(value * 100) AS BIGINT)
             - lag(CAST(round(value * 100) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
             AS delta_cents
    FROM events
    """,
)
def win_lag_delta(spark: SparkSession, sf: str) -> DataFrame:
    """Per-key change detection via lag (integer cents for parity)."""
    e = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    cents = F.round(F.col("value") * 100).cast("long")
    return e.select(
        "event_id", "user_id", (cents - F.lag(cents).over(w)).alias("delta_cents")
    )




@query(
    "win_ntile_quartiles",
    oracle="""
    SELECT event_id,
           ntile(4) OVER (ORDER BY CAST(round(value * 100) AS BIGINT) ASC,
                          event_id ASC) AS quartile
    FROM events
    """,
)
def win_ntile_quartiles(spark: SparkSession, sf: str) -> DataFrame:
    """Quartile bucketing with a fully deterministic order. Since r12
    the event-grain NTILE runs through functions.ranks.ranked_ntile
    (range-sharded local ranks + a bounded offset table) — bit-equal
    to the SQL NTILE the oracle runs, without the single-partition
    sort a bare global window would cost at corpus scale."""
    from ..functions.ranks import ranked_ntile

    e = load(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    d = e.select("event_id", cents.alias("_cents"))
    return ranked_ntile(
        d, [F.col("_cents").asc(), F.col("event_id").asc()], 4,
        out_col="quartile",
    ).select("event_id", "quartile")




@query(
    "scalar_subquery_above_avg",
    oracle="""
    SELECT event_id, user_id,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events
    WHERE CAST(round(value * 100) AS BIGINT) >
          (SELECT avg(CAST(round(value * 100) AS BIGINT)) FROM events)
    """,
)
def scalar_subquery_above_avg(spark: SparkSession, sf: str) -> DataFrame:
    """Scalar-subquery predicate (rows above the global mean) via
    spark.sql — integer cents so the avg comparison is identical."""
    e = load(spark, sf, "events")
    e.createOrReplaceTempView("_events_ssq")
    return spark.sql(
        """
        SELECT event_id, user_id,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM _events_ssq
        WHERE CAST(round(value * 100) AS BIGINT) >
              (SELECT avg(CAST(round(value * 100) AS BIGINT)) FROM _events_ssq)
        """
    )




@query(
    "agg_grouped_percentiles",
    oracle="""
    SELECT event_type,
           quantile_cont(c, 0.5) AS p50,
           quantile_cont(c, 0.9) AS p90,
           quantile_cont(c, 0.99) AS p99
    FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events)
    GROUP BY event_type
    """,
)
def agg_grouped_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT grouped percentiles over integer cents: Spark percentile()
    and DuckDB quantile_cont() share the linear-interpolation order
    statistic, verified bit-identical. (approx_percentile is the
    at-scale alternative; exact percentile shuffles each group's values
    — fine for bounded group counts, and the oracle-checkable form.)"""
    e = load(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        e.select("event_type", cents.alias("c"))
        .groupBy("event_type")
        .agg(
            F.expr("percentile(c, 0.5D)").alias("p50"),
            F.expr("percentile(c, 0.9D)").alias("p90"),
            F.expr("percentile(c, 0.99D)").alias("p99"),
        )
    )




@query(
    "json_props_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k,
           CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket
    FROM events
    """,
)
def json_props_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured payload handling: typed extraction from a JSON
    string column (the events side-channel). get_json_object stays in
    codegen; at scale prefer from_json to a struct once if many keys
    are read (single parse instead of N)."""
    e = load(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.select(
        "event_id", k.alias("k"), (k % 10).alias("k_bucket")
    )




@query(
    "agg_incremental_merge",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_c
      FROM events GROUP BY event_type, date_trunc('day', ts)
    )
    SELECT event_type, date_trunc('week', day) AS week,
           CAST(sum(n) AS BIGINT) AS n,
           CAST(sum(sum_c) AS BIGINT) AS sum_c
    FROM daily GROUP BY event_type, date_trunc('week', day)
    """,
)
def agg_incremental_merge(spark: SparkSession, sf: str) -> DataFrame:
    """Materialized-view maintenance shape: daily partial aggregates
    merged upward into weekly rollups — counts and integer-cent sums
    are re-aggregable (mergeable), so incremental refresh never touches
    raw events twice. The same two-level plan is how a 100 TB pipeline
    keeps hot rollups: partial aggs land per partition-day, merges read
    only partials."""
    e = load(spark, sf, "events")
    daily = (
        e.select(
            "event_type",
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("c").alias("sum_c"))
    )
    return (
        daily.groupBy(
            "event_type", F.date_trunc("week", F.col("day")).alias("week")
        )
        .agg(F.sum("n").alias("n"), F.sum("sum_c").alias("sum_c"))
    )




@query("zorder_cluster_key", oracle=_zorder_oracle())
def zorder_cluster_key(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order (Morton) clustering key over two dimensions — sort/write
    by zkey and BOTH columns stay locally dense per file/row-group, so
    min/max pruning works for range predicates on either dimension
    (what OPTIMIZE ZORDER does in lakehouse engines; here it pairs with
    util.compact_parquet(sort_by=[zkey]))."""
    from ..util import zorder_key_2d

    e = load(spark, sf, "events")
    return e.select(
        "event_id",
        zorder_key_2d(F.col("user_id") % 1024, F.col("event_id") % 1024).alias(
            "zkey"
        ),
    )




@query(
    "join_fuzzy_levenshtein",
    oracle="""
    WITH c AS (SELECT c_custkey, c_name FROM customer
               WHERE c_custkey % 4 = 0),
    vars AS (
      SELECT c_custkey, c_name,
             unnest(list_distinct(list_append(
               [substr(c_name, 1, i - 1)
                  || substr(c_name, i + 1, length(c_name))
                for i in range(1, length(c_name) + 1)],
               c_name))) AS v
      FROM c
    ),
    cand AS (
      SELECT DISTINCT a.c_custkey AS id_a, b.c_custkey AS id_b,
                      a.c_name AS name_a, b.c_name AS name_b
      FROM vars a JOIN vars b
        ON a.v = b.v AND a.c_custkey < b.c_custkey
    )
    SELECT id_a, id_b, name_a, name_b,
           CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
    FROM cand WHERE levenshtein(name_a, name_b) <= 1
    """,
)
def join_fuzzy_levenshtein(spark: SparkSession, sf: str) -> DataFrame:
    """COMPLETE fuzzy self-match on customer names at edit distance
    ≤ 1 — the record-linkage primitive behind fuzzy dedup of entity
    names. Reference sanitizes names for exact-match joins
    (src/app/controllers/player.py:23-24); this is the approximate
    generalization. Blocking is the deletion-neighborhood variant key
    (operators.deletion_neighborhood_pairs): zero recall loss by
    pigeonhole, unlike the previous ``c_custkey % 40`` key which was
    both quadratic within blocks and blind across them (VERDICT r13
    item 3). The % 4 audit sample bounds the RESULT set (TPC-H names
    are dense zero-padded numerals, so dist-1 pairs are plentiful);
    candidate generation itself never sees a non-variant join."""
    from ..operators import deletion_neighborhood_pairs

    c = load(spark, sf, "customer").filter(F.col("c_custkey") % 4 == 0)
    return deletion_neighborhood_pairs(
        c, id_col="c_custkey", name_col="c_name"
    ).select("id_a", "id_b", "name_a", "name_b", "dist")




@query(
    "win_percent_rank",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd,
           CAST(rank() OVER w AS BIGINT) AS rnk
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal)
    """,
)
def win_percent_rank(spark: SparkSession, sf: str) -> DataFrame:
    """Relative-standing window functions (percent_rank, cume_dist,
    rank) — both engines use the ANSI definitions, and percent_rank's
    (rank-1)/(n-1) divides identical integers, so ties and boundaries
    agree bit-for-bit."""
    c = load(spark, sf, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.rank().over(w).cast("long").alias("rnk"),
    )




@query(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                            (l_returnflag), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """Arbitrary GROUPING SETS (the general form of cube/rollup):
    Catalyst expands the sets into one Expand + single hash aggregate —
    one shuffle regardless of how many sets. Exact integer measures."""
    load(spark, sf, "lineitem").createOrReplaceTempView("lineitem_gsets")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM lineitem_gsets
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), ())
        """
    )




@query(
    "agg_mode_per_group",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY user_id, event_type
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                ORDER BY n DESC, event_type) AS rn
      FROM c
    )
    SELECT user_id, event_type AS mode_type, n AS mode_n
    FROM r WHERE rn = 1
    """,
)
def agg_mode_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group mode (most frequent value) with a deterministic
    lexicographic tiebreak. Two-level shape: count aggregate first
    (map-side combinable, the only pass over raw data), then the
    argmax window runs over |users| × |types| pre-aggregated rows —
    never over raw events."""
    e = load(spark, sf, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy(
        F.col("n").desc(), F.col("event_type")
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("mode_type"),
            F.col("n").alias("mode_n"),
        )
    )




@query(
    "join_interval_overlap",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                         OVER (PARTITION BY user_id
                               ORDER BY ts ASC, event_id ASC)
                       > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts ASC, event_id ASC) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), tagged AS (
      SELECT user_id, ts,
             CAST(sum(new_session)
                  OVER (PARTITION BY user_id
                        ORDER BY ts ASC, event_id ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_idx
      FROM gaps
    ), sess AS (
      SELECT user_id, session_idx,
             CAST(floor(epoch(min(ts))) AS BIGINT) AS start_s,
             CAST(floor(epoch(max(ts))) AS BIGINT) AS end_s
      FROM tagged GROUP BY user_id, session_idx
    )
    SELECT a.user_id AS user_a, a.session_idx AS sess_a,
           b.user_id AS user_b, b.session_idx AS sess_b,
           CAST(least(a.end_s, b.end_s)
                - greatest(a.start_s, b.start_s) AS BIGINT) AS overlap_s
    FROM sess a JOIN sess b
      ON a.user_id < b.user_id
     AND a.start_s <= b.end_s AND b.start_s <= a.end_s
    """,
)
def join_interval_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Interval-overlap join (concurrent-session detection): sessions
    from the 30-min-gap sessionizer become [start_s, end_s] intervals;
    pairs of intervals from DIFFERENT users that overlap in time are
    reported with their overlap length.

    The oracle states the O(n²) theta-join; this side runs the plan
    that survives scale: each interval explodes into the hour buckets
    it covers (fan-out = session length in hours, bounded), candidate
    pairs come from an EQUI-join on the bucket, exact overlap filters
    false positives, and each pair is kept only in its first shared
    bucket, so no cross-bucket duplicates arise and no distinct is
    needed. No nested-loop join anywhere."""
    e = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    prev = F.lag("ts").over(w)
    new_sess = F.when(
        prev.isNull()
        | ((_usec(F.col("ts")) - _usec(prev)) > 1800000000),
        1,
    ).otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = (
        e.withColumn("new_session", new_sess)
        .withColumn("session_idx", F.sum("new_session").over(wsum))
        .groupBy("user_id", F.col("session_idx").cast("long").alias("session_idx"))
        .agg(
            F.floor(F.min(_usec("ts")) / 1_000_000)
            .cast("long")
            .alias("start_s"),
            F.floor(F.max(_usec("ts")) / 1_000_000)
            .cast("long")
            .alias("end_s"),
        )
    )
    bucketed = sess.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.expr("start_s DIV 3600"), F.expr("end_s DIV 3600")
            )
        ),
    )
    # pin: BOTH sides of the bucket self-join consume this frame, and
    # without the pin each side re-runs the sessionize window +
    # group-by + explode derivation (r15, the graph-family pin device)
    bucketed = bucketed.localCheckpoint(eager=False)
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    # r15: anchor each pair to its FIRST shared bucket instead of
    # collapsing cross-bucket duplicates with a distinct (guide §2.4 —
    # the distinct was a full exchange + aggregate over the pair set,
    # the query's largest intermediate). A qualifying pair overlaps in
    # the bucket range [greatest(starts) DIV 3600, least(ends) DIV
    # 3600] (floor-div is monotone, so max/DIV commute and overlap in
    # seconds implies a shared bucket); filtering on the range's first
    # element emits each pair exactly once — the same set of rows the
    # distinct produced, with zero dedup shuffle.
    pairs = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.user_id") < F.col("b.user_id"))
            & (F.col("a.start_s") <= F.col("b.end_s"))
            & (F.col("b.start_s") <= F.col("a.end_s"))
            & (
                F.col("a.bucket")
                == F.expr("greatest(a.start_s, b.start_s) DIV 3600")
            ),
        )
        .select(
            F.col("a.user_id").alias("user_a"),
            F.col("a.session_idx").alias("sess_a"),
            F.col("b.user_id").alias("user_b"),
            F.col("b.session_idx").alias("sess_b"),
            (
                F.least(F.col("a.end_s"), F.col("b.end_s"))
                - F.greatest(F.col("a.start_s"), F.col("b.start_s"))
            ).alias("overlap_s"),
        )
    )
    return pairs




@query(
    "win_cumulative_distinct",
    oracle="""
    WITH firsts AS (
      SELECT event_type, user_id, min(ts) AS first_ts
      FROM events GROUP BY event_type, user_id
    ), daily AS (
      SELECT event_type, date_trunc('day', first_ts) AS day,
             CAST(count(*) AS BIGINT) AS new_users
      FROM firsts GROUP BY event_type, day
    )
    SELECT event_type, day, new_users,
           CAST(sum(new_users) OVER (PARTITION BY event_type ORDER BY day ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_distinct_users
    FROM daily
    """,
)
def win_cumulative_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Running COUNT(DISTINCT) — the growth-curve query (cumulative
    unique users per event type by day). A windowed count-distinct is
    not directly computable at scale; the standard decomposition is
    first-occurrence extraction (one agg on (type, user)), daily
    new-user counts (second agg), then a plain running SUM window —
    distinctness is resolved BEFORE the window, so state never exceeds
    one row per (type, day). The window partitions by event_type and
    parallelizes across types."""
    e = load(spark, sf, "events")
    firsts = e.groupBy("event_type", "user_id").agg(
        F.min("ts").alias("first_ts")
    )
    daily = firsts.groupBy(
        "event_type", F.date_trunc("day", F.col("first_ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("new_users"))
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("day").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "event_type",
        "day",
        "new_users",
        F.sum("new_users").over(w).alias("cum_distinct_users"),
    )




@query(
    "gaps_islands_user_days",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), rn AS (
      SELECT user_id, d,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS rn
      FROM days
    ), isl AS (
      SELECT user_id, d, (d - DATE '1970-01-01') - rn AS grp FROM rn
    )
    SELECT user_id, CAST(min(d) AS VARCHAR) AS start_day,
           CAST(max(d) AS VARCHAR) AS end_day,
           count(*) AS n_days
    FROM isl GROUP BY user_id, grp
    """,
)
def gaps_islands_user_days(spark: SparkSession, sf: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of consecutive active days per
    user. The classic row_number-minus-day-index trick — a run of
    consecutive days shares (day_index − rank), so islands fall out of
    one window plus one aggregate. Both shuffles hash on user_id;
    all-integer island keys."""
    days = (
        load(spark, sf, "events")
        .select("user_id", F.col("ts").cast("date").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.withColumn(
        "grp",
        F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
        - F.row_number().over(w),
    )
    return isl.groupBy("user_id", "grp").agg(
        F.min("d").cast("string").alias("start_day"),
        F.max("d").cast("string").alias("end_day"),
        F.count(F.lit(1)).alias("n_days"),
    ).select("user_id", "start_day", "end_day", "n_days")




@query(
    "win_first_last_nth",
    oracle="""
    SELECT o_orderkey, o_custkey,
           first_value(o_orderkey) OVER w AS first_ok,
           last_value(o_orderkey)
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS last_ok,
           nth_value(o_orderkey, 2) OVER w AS second_ok
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_first_last_nth(spark: SparkSession, sf: str) -> DataFrame:
    """first/last/nth_value over an explicit full-partition frame — the
    frame matters: the SQL-default RANGE..CURRENT ROW makes last_value
    a running value, a classic silent-wrong-answer; both engines get
    the explicit unbounded frame."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    o = load(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_ok"),
        F.last("o_orderkey").over(w).alias("last_ok"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_ok"),
    )




@query(
    "topk_heavy_tokens",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS key
      FROM documents
    ), freq AS (
      SELECT key, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY key
    )
    SELECT key, n, rank FROM (
      SELECT key, n,
             row_number() OVER (ORDER BY n DESC, key ASC) AS rank
      FROM freq)
    WHERE rank <= 20
    """,
)
def topk_heavy_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """Exact top-20 corpus tokens via the Misra–Gries sketch-pruned
    two-pass path (functions/topk.py): per-partition capacity-m
    summaries shuffle instead of every distinct token, then only the
    merged candidates recount exactly. The oracle is the naive
    full-shuffle top-k — the sketch path must be bit-identical on this
    Zipfian distribution (the guarantee holds when the true 20th count
    clears the N/(m+1)-per-truncation undercount bound)."""
    from ..functions import topk as tk

    d = load(spark, sf, "documents").select(
        F.explode(tx.tokens("text")).alias("tok")
    )
    return tk.sketch_pruned_topk(d, "tok", k=20, m=512)




@query(
    "join_asof_forward",
    oracle="""
    WITH orders_d AS (
      SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, o.o_orderkey
    FROM events e ASOF LEFT JOIN orders_d o
      ON e.user_id = o.o_custkey AND o.o_orderdate >= e.ts
    """,
)
def join_asof_forward(spark: SparkSession, sf: str) -> DataFrame:
    """Forward as-of: earliest order at or after each event — the
    union + single-window formulation of join_asof with the frame
    flipped to (currentRow, unboundedFollowing)."""
    from ..operators import asof_join

    e = load(spark, sf, "events").select(
        "event_id", F.col("user_id"), _usec(F.col("ts")).alias("_ts_us")
    )
    o = (
        load(spark, sf, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
        .select(
            F.col("o_custkey").alias("user_id"),
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("_od_us"),
            "o_orderkey",
        )
    )
    out = asof_join(
        e, o, on="user_id", left_time="_ts_us", right_time="_od_us",
        right_payload=["o_orderkey"], direction="forward",
    )
    return out.select("event_id", "user_id", "o_orderkey")




@query(
    "join_asof_nearest",
    oracle="""
    WITH orders_d AS (
      SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    ), b AS (
      SELECT e.event_id, e.user_id, e.ts,
             o.o_orderkey AS b_ok, o.o_orderdate AS b_t
      FROM events e ASOF LEFT JOIN orders_d o
        ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    ), f AS (
      SELECT e.event_id, o.o_orderkey AS f_ok, o.o_orderdate AS f_t
      FROM events e ASOF LEFT JOIN orders_d o
        ON e.user_id = o.o_custkey AND o.o_orderdate >= e.ts
    )
    SELECT b.event_id, b.user_id,
           CASE WHEN f.f_t IS NULL
                  OR (b.b_t IS NOT NULL
                      AND epoch_us(b.ts) - epoch_us(b.b_t)
                          <= epoch_us(f.f_t) - epoch_us(b.ts))
                THEN b.b_ok ELSE f.f_ok END AS o_orderkey
    FROM b JOIN f USING (event_id)
    """,
)
def join_asof_nearest(spark: SparkSession, sf: str) -> DataFrame:
    """Nearest as-of (ties -> backward, the pandas merge_asof
    convention): both directional carries run over the SAME key
    exchange (two ordered passes, one shuffle) and the closer match
    wins on exact integer-microsecond deltas."""
    from ..operators import asof_join

    e = load(spark, sf, "events").select(
        "event_id", F.col("user_id"), _usec(F.col("ts")).alias("_ts_us")
    )
    o = (
        load(spark, sf, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
        .select(
            F.col("o_custkey").alias("user_id"),
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("_od_us"),
            "o_orderkey",
        )
    )
    out = asof_join(
        e, o, on="user_id", left_time="_ts_us", right_time="_od_us",
        right_payload=["o_orderkey"], direction="nearest",
    )
    return out.select("event_id", "user_id", "o_orderkey")




@query(
    "cdc_apply_log",
    oracle="""
    WITH log AS (
      SELECT event_id, user_id AS pk, ts,
             CAST(round(value * 100) AS BIGINT) AS val_cents,
             CASE WHEN event_id % 11 = 0 THEN 'D'
                  WHEN event_id % 3 = 0 THEN 'U' ELSE 'I' END AS op
      FROM events
    ), latest AS (
      SELECT pk, ts, event_id, op, val_cents,
             row_number() OVER (PARTITION BY pk
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM log
    )
    SELECT pk, val_cents, ts AS updated_ts, event_id AS last_event
    FROM latest WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_apply_log(spark: SparkSession, sf: str) -> DataFrame:
    """CDC log application (the Delta/Hudi merge semantics, engine-
    free): an insert/update/delete op-log collapses to the current
    snapshot — latest op per key wins (event-time order, id tiebreak),
    and a terminal delete removes the key entirely. One window shuffle
    on the key; at 100 TB the same plan applies a day's log partition
    onto a snapshot via keep-latest over the union. The op column is
    derived deterministically from the events table so both engines see
    the identical log."""
    log = load(spark, sf, "events").select(
        "event_id",
        F.col("user_id").alias("pk"),
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("val_cents"),
        F.when(F.col("event_id") % 11 == 0, F.lit("D"))
        .when(F.col("event_id") % 3 == 0, F.lit("U"))
        .otherwise(F.lit("I"))
        .alias("op"),
    )
    w = Window.partitionBy("pk").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            "pk",
            "val_cents",
            F.col("ts").alias("updated_ts"),
            F.col("event_id").alias("last_event"),
        )
    )




@query(
    "json_variant_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k,
           CAST(json_extract(props, '$.missing') AS BIGINT) AS missing
    FROM events
    """,
)
def json_variant_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Spark 4 VariantType path for semi-structured payloads:
    parse_json ONCE into the binary variant encoding, then typed
    try_variant_get extractions — the modern alternative to N
    get_json_object re-parses when many keys are read, with open
    schema (unknown keys -> NULL, not error). The oracle is plain
    json_extract: variant is an encoding, not a semantics change."""
    e = load(spark, sf, "events")
    v = e.select("event_id", F.parse_json("props").alias("_v"))
    return v.select(
        "event_id",
        F.try_variant_get("_v", "$.k", "long").alias("k"),
        F.try_variant_get("_v", "$.missing", "long").alias("missing"),
    )




@query(
    "seq_top_paths",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess
      FROM o
    ), paths AS (
      SELECT user_id, sess,
             string_agg(event_type, '>' ORDER BY ts, event_id) FILTER (rn <= 3)
               AS path
      FROM (SELECT user_id, sess, ts, event_id, event_type,
                   row_number() OVER (PARTITION BY user_id, sess
                                      ORDER BY ts, event_id) AS rn
            FROM s)
      GROUP BY user_id, sess
    )
    SELECT path, n, rank FROM (
      SELECT path, CAST(count(*) AS BIGINT) AS n,
             row_number() OVER (ORDER BY count(*) DESC, path ASC) AS rank
      FROM paths GROUP BY path)
    WHERE rank <= 10
    """,
)
def seq_top_paths(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence mining lite: the 10 most common session-opening
    event-type paths (first 3 events of each 30-min-gap session).
    Sessionize → per-session ordered prefix (sort_array over
    (ts, event_id, type) structs — array-local, no extra shuffle) →
    count paths. The heavy lift stays in two keyed shuffles; the
    prefix slice bounds per-session state at 3 regardless of session
    length."""
    e = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_sess = F.when(
        prev.isNull() | ((_usec(F.col("ts")) - _usec(prev)) > 1800000000), 1
    ).otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s = e.withColumn("new_session", new_sess).withColumn(
        "sess", F.sum("new_session").over(wsum)
    )
    paths = (
        s.groupBy("user_id", "sess")
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                1,
                3,
            ).alias("_p3")
        )
        .select(
            F.array_join(
                F.transform(F.col("_p3"), lambda x: x["event_type"]), ">"
            ).alias("path")
        )
    )
    wr = Window.orderBy(F.col("n").desc(), F.col("path").asc())
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= 10)
        .select("path", "n", "rank")
    )




@query(
    "agg_countmin_sketch",
    oracle="""
    WITH rows_ AS (
      SELECT user_id, gs.h AS h,
             CAST(('0x' || substr(md5(CAST(gs.h AS VARCHAR) || ':'
                                      || CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 256 AS bucket
      FROM events, unnest(range(0, 4)) AS gs(h)
    ),
    sketch AS (
      SELECT h, bucket, CAST(count(*) AS BIGINT) AS cnt
      FROM rows_ GROUP BY h, bucket
    ),
    truth AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS true_cnt
      FROM events GROUP BY user_id
    ),
    top AS (
      SELECT user_id, true_cnt FROM truth
      ORDER BY true_cnt DESC, user_id LIMIT 20
    ),
    probes AS (
      SELECT t.user_id, t.true_cnt, gs.h AS h,
             CAST(('0x' || substr(md5(CAST(gs.h AS VARCHAR) || ':'
                                      || CAST(t.user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 256 AS bucket
      FROM top t, unnest(range(0, 4)) AS gs(h)
    )
    SELECT p.user_id, p.true_cnt,
           CAST(min(s.cnt) AS BIGINT) AS cms_estimate
    FROM probes p JOIN sketch s ON s.h = p.h AND s.bucket = p.bucket
    GROUP BY p.user_id, p.true_cnt
    """,
)
def agg_countmin_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) built
    END-TO-END in the engine: depth 4 × width 256, hash rows from the
    md5 device, the sketch itself one map-combinable groupBy (so it
    merges across partitions/batches for free — the property HLL gets
    from engine internals, here held in plain rows), and the point
    query min-over-rows for the 20 heaviest keys next to their true
    counts. Everything is integer arithmetic on a deterministic hash,
    so unlike `agg_approx_distinct` the APPROXIMATE structure is fully
    hash-verifiable cross-engine; the CMS overestimate guarantee
    (estimate ≥ truth) is pinned by test."""
    e = load(spark, sf, "events").select("user_id")
    hcols = [
        F.struct(
            F.lit(i).alias("h"),
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit(f"{i}:"),
                                F.col("user_id").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % 256
            ).alias("bucket"),
        )
        for i in range(4)
    ]
    rows = e.select(
        "user_id", F.explode(F.array(*hcols)).alias("hb")
    ).select("user_id", F.col("hb.h").alias("h"), F.col("hb.bucket").alias("bucket"))
    sketch = rows.groupBy("h", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    truth = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_cnt"))
    top = truth.orderBy(
        F.col("true_cnt").desc(), F.col("user_id").asc()
    ).limit(20)
    probes = top.select(
        "user_id", "true_cnt", F.explode(F.array(*hcols)).alias("hb")
    ).select("user_id", "true_cnt", F.col("hb.h").alias("h"), F.col("hb.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(sketch), on=["h", "bucket"])
        .groupBy("user_id", "true_cnt")
        .agg(F.min("cnt").alias("cms_estimate"))
    )




@query(
    "join_salted_skew",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_salted_skew(spark: SparkSession, sf: str) -> DataFrame:
    """The MANUAL skew-join remedy, executed and oracle-certified as a
    pure rewrite: the fact side salts its join key (deterministic
    pmod(xxhash64(l_orderkey, l_linenumber), 8) — hash-based so all 8
    salt values are live whatever the linenumber distribution), the
    build side replicates 8× with every salt, and the join runs on
    (key, salt) — so a pathological hot key's rows spread across all
    8 reducers instead of one. AQE's skew split
    (pinned in test_scale_plans) handles post-shuffle skew
    adaptively; THIS is the pre-planned version a pipeline reaches for
    when the hot key is known ahead of time (the agg twin is
    agg_salted_twophase). The oracle is the PLAIN join — hash parity
    proves salting changes the distribution, never the answer. The 8×
    build replication is the price; use only on genuinely skewed
    joins."""
    li = load(spark, sf, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    ).withColumn(
        "_salt",
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(8)).cast(
            "int"
        ),
    )
    o = (
        load(spark, sf, "orders")
        .select("o_orderkey", "o_orderpriority")
        .withColumn("_rep", F.explode(F.sequence(F.lit(0), F.lit(7))))
        .withColumn("_rep", F.col("_rep").cast("int"))
    )
    joined = li.hint("shuffle_hash").join(
        o,
        (li["l_orderkey"] == o["o_orderkey"])
        & (li["_salt"] == o["_rep"]),
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("cents").alias("revenue_cents"),
    )




# ===========================================================================
# Coverage round 6: incremental-view maintenance, link prediction,
# changepoint detection
# ===========================================================================


@query(
    "mv_incremental_update",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    base AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s
      FROM e WHERE event_id % 5 <> 0 GROUP BY user_id
    ),
    delta AS (
      SELECT user_id,
             CAST(sum(CASE WHEN event_id % 10 = 0 THEN -1 ELSE 1 END)
                  AS BIGINT) AS dn,
             CAST(sum((CASE WHEN event_id % 10 = 0 THEN -1 ELSE 1 END)
                      * cents) AS BIGINT) AS ds
      FROM e WHERE event_id % 5 = 0 GROUP BY user_id
    )
    SELECT user_id,
           COALESCE(b.n, 0) + COALESCE(d.dn, 0) AS n_events,
           COALESCE(b.s, 0) + COALESCE(d.ds, 0) AS sum_cents
    FROM base b FULL OUTER JOIN delta d USING (user_id)
    WHERE COALESCE(b.n, 0) + COALESCE(d.dn, 0) > 0
    """,
)
def mv_incremental_update(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental materialized-view maintenance (the Flink retract-
    stream / DBSP delta algebra): a per-user (count, sum) MV built
    from yesterday's facts is brought current by merging ONLY the
    day's signed delta log (insert = +1, retract = −1), never
    rescanning the base facts. Groups whose maintained count reaches
    zero leave the view. The op split is derived deterministically
    from event_id so both engines see the identical base/log.

    Scale: the base MV is read as pre-aggregated state (|users| rows,
    not |facts|); the delta aggregation is one map-combinable groupBy
    over the day partition; the merge is a key full-outer join between
    two aggregate-sized sides. At 100 TB this is the difference
    between touching a day and touching a decade."""
    e = load(spark, sf, "events").select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    base = (
        e.filter(F.col("event_id") % 5 != 0)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
        )
    )
    sign = F.when(F.col("event_id") % 10 == 0, F.lit(-1)).otherwise(
        F.lit(1)
    )
    delta = (
        e.filter(F.col("event_id") % 5 == 0)
        .groupBy("user_id")
        .agg(
            F.sum(sign).alias("dn"),
            F.sum(sign * F.col("cents")).alias("ds"),
        )
    )
    merged = base.join(delta, on="user_id", how="full").select(
        "user_id",
        (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias(
            "n_events"
        ),
        (F.coalesce("s", F.lit(0)) + F.coalesce("ds", F.lit(0))).alias(
            "sum_cents"
        ),
    )
    return merged.filter(F.col("n_events") > 0)




@query(
    "agg_kmv_set_ops",
    oracle="""
    WITH a AS (
      SELECT DISTINCT CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)),
                            1, 12)) AS BIGINT) AS h
      FROM lineitem WHERE l_returnflag = 'R'
    ),
    b AS (
      SELECT DISTINCT CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)),
                            1, 12)) AS BIGINT) AS h
      FROM lineitem WHERE l_linestatus = 'O'
    ),
    u AS (SELECT h FROM a UNION SELECT h FROM b),
    ska AS (SELECT h FROM a ORDER BY h LIMIT 128),
    skb AS (SELECT h FROM b ORDER BY h LIMIT 128),
    sku AS (SELECT h FROM u ORDER BY h LIMIT 128),
    ea AS (SELECT CAST(count(*) AS BIGINT) AS exact_a FROM a),
    eb AS (SELECT CAST(count(*) AS BIGINT) AS exact_b FROM b),
    eu AS (SELECT CAST(count(*) AS BIGINT) AS exact_union FROM u),
    ei AS (SELECT CAST(count(*) AS BIGINT) AS exact_intersection
           FROM a JOIN b USING (h)),
    sa AS (SELECT CAST(count(*) AS BIGINT) AS ka, max(h) AS va FROM ska),
    sb AS (SELECT CAST(count(*) AS BIGINT) AS kb, max(h) AS vb FROM skb),
    su AS (SELECT CAST(count(*) AS BIGINT) AS ku, max(h) AS vu FROM sku),
    bo AS (SELECT CAST(count(*) AS BIGINT) AS cnt_both
           FROM sku JOIN a USING (h) JOIN b USING (h))
    SELECT exact_a, exact_b, exact_union, exact_intersection,
           CASE WHEN ka < 128 THEN CAST(ka AS DOUBLE)
                ELSE CAST(127 AS DOUBLE) * CAST(281474976710656 AS DOUBLE) / CAST(va AS DOUBLE)
           END AS est_a,
           CASE WHEN kb < 128 THEN CAST(kb AS DOUBLE)
                ELSE CAST(127 AS DOUBLE) * CAST(281474976710656 AS DOUBLE) / CAST(vb AS DOUBLE)
           END AS est_b,
           CASE WHEN ku < 128 THEN CAST(ku AS DOUBLE)
                ELSE CAST(127 AS DOUBLE) * CAST(281474976710656 AS DOUBLE) / CAST(vu AS DOUBLE)
           END AS est_union,
           CAST(cnt_both AS DOUBLE) / CAST(ku AS DOUBLE)
             * (CASE WHEN ku < 128 THEN CAST(ku AS DOUBLE)
                     ELSE CAST(127 AS DOUBLE) * CAST(281474976710656 AS DOUBLE) / CAST(vu AS DOUBLE)
                END) AS est_intersection
    FROM ea, eb, eu, ei, sa, sb, su, bo
    """,
)
def agg_kmv_set_ops(spark: SparkSession, sf: str) -> DataFrame:
    """KMV (k-minimum-values) sketch with SET OPERATIONS — the piece
    the sketch family (HLL, Count-Min, Bloom) was missing: distinct
    cardinality of two sets PLUS their union and intersection from
    bounded state, the query a dedup planner asks before scheduling a
    cross-corpus join ("how much overlap do these two crawls have?").
    Each sketch is the k=128 smallest 48-bit md5 hashes of the set's
    distinct keys; ``orderBy(h).limit(k)`` compiles to
    TakeOrderedAndProject — per-partition partial top-k merged once,
    the exact mergeable-partials shape a 100 TB KMV union uses (ship
    the 128-row sketches, never the sets). Estimators: n<k → exact;
    else (k-1)·2^48 / v_k; intersection via the inclusion ratio of
    the union sketch (Beyer et al., SIGMOD'07). Everything below the
    two final float divisions is integer md5 arithmetic, so DuckDB
    replays the sketch bit-for-bit; accuracy (±1/√k) is pinned by
    unit test, exact ground truth rides in the same row."""
    li = load(spark, sf, "lineitem")
    k = 128

    # r14 restructure (identical output via set identities): ONE
    # membership table u = distinct h with (in_a, in_b) flags replaces
    # the separate a/b/u distincts — |a| = Σin_a, |a∩b| = Σ(in_a·in_b)
    # (= the old a⋈b count, both sides were distinct), and the union
    # sketch carries its own flags so cnt_both is a flag sum over its
    # 128 rows instead of two joins. The query ran as ~20 SERIAL tiny
    # stages (8 crossJoin branches, each its own materialization
    # wave); this shape is one distinct shuffle + 4 single-row
    # branches. The per-partition-top-k sketch (TakeOrderedAndProject,
    # the mergeable-partials shape) is unchanged.
    def tagged(pred, fa: int, fb: int) -> DataFrame:
        return li.filter(pred).select(
            _h48(F.col("l_orderkey").cast("string")).alias("h"),
            F.lit(fa).alias("in_a"),
            F.lit(fb).alias("in_b"),
        )

    memb = (
        tagged(F.col("l_returnflag") == "R", 1, 0)
        .unionByName(tagged(F.col("l_linestatus") == "O", 0, 1))
        .groupBy("h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
        .localCheckpoint(eager=False)  # 4 consumers below
    )

    counts = memb.agg(
        F.sum("in_a").alias("exact_a"),
        F.sum("in_b").alias("exact_b"),
        F.count(F.lit(1)).alias("exact_union"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("exact_intersection"),
    )
    ska = memb.filter(F.col("in_a") == 1).orderBy("h").limit(k)
    skb = memb.filter(F.col("in_b") == 1).orderBy("h").limit(k)
    sku = memb.orderBy("h").limit(k)
    sa = ska.agg(F.count(F.lit(1)).alias("ka"), F.max("h").alias("va"))
    sb = skb.agg(F.count(F.lit(1)).alias("kb"), F.max("h").alias("vb"))
    su = sku.agg(
        F.count(F.lit(1)).alias("ku"),
        F.max("h").alias("vu"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("cnt_both"),
    )

    def est(kc: str, vc: str) -> F.Column:
        return F.when(
            F.col(kc) < k, F.col(kc).cast("double")
        ).otherwise(
            F.lit(float(k - 1)) * F.lit(_KMV_SPACE)
            / F.col(vc).cast("double")
        )

    row = counts
    for d in (sa, sb, su):
        row = row.crossJoin(d)
    return row.select(
        "exact_a",
        "exact_b",
        "exact_union",
        "exact_intersection",
        est("ka", "va").alias("est_a"),
        est("kb", "vb").alias("est_b"),
        est("ku", "vu").alias("est_union"),
        (
            F.col("cnt_both").cast("double") / F.col("ku").cast("double")
            * est("ku", "vu")
        ).alias("est_intersection"),
    )




@query(
    "join_bloom_prefilter",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderpriority
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom SEMI-JOIN REDUCTION, the third member of the manual
    skew/shuffle-remedy family (salted agg, salted join, now bloom):
    before shuffling the fact for a selective dim join, ship the dim
    keys' Bloom filter to the scan side and drop non-members early.
    Unlike audit_bloom_membership (the filter as inspectable rows),
    this one packs the 2^17-bit / 3-hash filter into 2048 longs built
    DISTRIBUTED (explode → distinct bit → groupBy word → bit_or),
    assembled into one array row and broadcast — membership is then a
    pure column expression (shift/mask on element_at), no explode and
    no extra shuffle on the fact. The final join is pinned sort-merge
    to model a dim too big to broadcast: the bloom cuts the fact's
    shuffle volume to ~matching rows + ~0.03% false positives (fp
    bound pinned by unit test). No false negatives by construction,
    so the PLAIN-join oracle hash-certifies result invariance, same
    device as join_salted_skew. Spark's runtime bloom pushdown
    (test_scale_plans pin) is the engine-internal version; this is
    the portable, persistable one."""
    from ..operators import bloom_prefilter

    cust = (
        load(spark, sf, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load(spark, sf, "orders").select(
        "o_custkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    pref = bloom_prefilter(orders, "o_custkey", cust)
    return (
        pref.hint("merge")
        .join(cust, pref["o_custkey"] == cust["c_custkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("revenue_cents"),
        )
    )




@query(
    "agg_hdr_quantile_sketch",
    oracle="""
    WITH v AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c
      FROM lineitem
    ),
    bk AS (
      SELECT CASE WHEN c < 16 THEN c
                  ELSE (length(printf('%b', c)) - 1) * 16
                       + ((c >> (length(printf('%b', c)) - 5)) & 15)
             END AS id
      FROM v
    ),
    hist AS (SELECT id, CAST(count(*) AS BIGINT) AS cnt FROM bk GROUP BY id),
    cum AS (
      SELECT id, cnt,
             CAST(sum(cnt) OVER (ORDER BY id) AS BIGINT) AS cum
      FROM hist
    ),
    lbv AS (
      SELECT id, cum,
             CASE WHEN id < 16 THEN id
                  ELSE (16 + (id % 16)) << CAST(id // 16 - 4 AS INT)
             END AS lb
      FROM cum
    ),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM hist)
    SELECT n,
           CAST((SELECT count(*) FROM hist) AS BIGINT) AS n_buckets,
           (SELECT min(lb) FROM lbv
            WHERE cum >= CAST(ceil(0.5 * n) AS BIGINT)) AS p50_est,
           (SELECT min(lb) FROM lbv
            WHERE cum >= CAST(ceil(0.9 * n) AS BIGINT)) AS p90_est,
           (SELECT min(lb) FROM lbv
            WHERE cum >= CAST(ceil(0.99 * n) AS BIGINT)) AS p99_est
    FROM tot
    """,
)
def agg_hdr_quantile_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """LOG-LINEAR QUANTILE SKETCH (the HdrHistogram / DDSketch
    shape): bucket = (floor(log2 x) octave, next 4 mantissa bits), so
    relative error ≤ 1/16 by construction, the bucket id is pure
    integer bit arithmetic, and the sketch is just a groupBy(id)
    count — mergeable across partitions/batches in plain rows exactly
    like the Count-Min rows (`agg_countmin_sketch`), completing the
    sketch family's quantile corner (vs `stats_exact_median_twopass`,
    which buys exactness with a second pass). Quantile read-off =
    cumulative walk over ≤~330 bucket rows (a bounded single-partition
    window, like the CMS point-query tail); estimates are bucket lower
    bounds, pinned within 1/16 relative error of the exact percentile
    by unit test. floor(log2) is length(bin(x))-1 on both engines —
    no float logs anywhere."""
    li = load(spark, sf, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("c")
    )
    bid = F.expr(
        "CASE WHEN c < 16 THEN c"
        " ELSE (length(bin(c)) - 1) * 16"
        " + (shiftright(c, length(bin(c)) - 5) & 15) END"
    )
    hist = li.select(bid.alias("id")).groupBy("id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    cum = hist.select(
        "id",
        "cnt",
        F.sum("cnt").over(
            Window.orderBy("id").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ).alias("cum"),
        F.expr(
            "CASE WHEN id < 16 THEN id"
            " ELSE shiftleft(cast(16 + id % 16 as bigint),"
            " cast(id div 16 - 4 as int)) END"
        ).alias("lb"),
    )
    tot = hist.agg(
        F.sum("cnt").alias("n"), F.count(F.lit(1)).alias("n_buckets")
    )
    q = cum.crossJoin(F.broadcast(tot))

    def est(p: float) -> F.Column:
        tgt = F.ceil(F.lit(p) * F.col("n")).cast("long")
        return F.min(F.when(F.col("cum") >= tgt, F.col("lb")))

    return q.groupBy("n", "n_buckets").agg(
        est(0.5).alias("p50_est"),
        est(0.9).alias("p90_est"),
        est(0.99).alias("p99_est"),
    )




@query(
    "s3_json_malformed_rate",
    oracle="""
    WITH w AS (
      SELECT event_type,
             CASE WHEN event_id % 7 = 0
                  THEN substr(props, 1, length(props) - 2)
                  ELSE props END AS payload
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_msgs,
           CAST(sum(CASE WHEN json_valid(payload) THEN 0 ELSE 1 END)
             AS BIGINT) AS n_malformed,
           CAST(sum(CASE WHEN json_valid(payload) THEN 0 ELSE 1 END)
             AS DOUBLE) / count(*) AS malformed_rate
    FROM w GROUP BY event_type
    """,
)
def s3_json_malformed_rate(spark: SparkSession, sf: str) -> DataFrame:
    """Wire-format QUARANTINE-RATE audit for the JSON deserialize path
    (S3's DLQ telemetry twin): deterministically truncate 1-in-7
    payloads to simulate the torn messages a real topic carries, then
    count per stream how many fail JSON validation
    (``try_parse_json IS NULL`` ≡ DuckDB ``json_valid``). This is the
    dashboard number the reference's poison-message loop never had —
    rate > 0 pages before the consumer stalls. Pure column
    expressions + one aggregate; at scale the validity flag rides the
    ingest scan for free."""
    e = load(spark, sf, "events")
    payload = F.when(
        F.col("event_id") % 7 == 0,
        F.expr("substr(props, 1, length(props) - 2)"),
    ).otherwise(F.col("props"))
    bad = F.when(
        F.expr("try_parse_json(payload) IS NULL"), 1
    ).otherwise(0)
    return (
        e.select("event_type", payload.alias("payload"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_msgs"),
            F.sum(bad).cast("long").alias("n_malformed"),
            (F.sum(bad).cast("double") / F.count(F.lit(1))).alias(
                "malformed_rate"
            ),
        )
    )




@query(
    "join_ip_prefix_lpm",
    oracle="""
    WITH ips AS (
      SELECT DISTINCT user_id,
             (user_id * 2654435761) % 4294967296 AS ip32
      FROM events
    ),
    routes AS (
      SELECT (n_nationkey * 10) % 256 AS pfx, 8 AS plen,
             n_name AS route FROM nation
      UNION ALL
      SELECT ((n_nationkey * 10) % 256) * 256 + n_nationkey, 16,
             n_name || '-metro' FROM nation
    ),
    cand AS (
      SELECT i.user_id, i.ip32, r.plen, r.route
      FROM ips i JOIN routes r
        ON r.plen = 8 AND (i.ip32 >> 24) = r.pfx
      UNION ALL
      SELECT i.user_id, i.ip32, r.plen, r.route
      FROM ips i JOIN routes r
        ON r.plen = 16 AND (i.ip32 >> 16) = r.pfx
    )
    SELECT user_id, ip32, CAST(plen AS INT) AS prefix_len, route
    FROM cand
    QUALIFY row_number() OVER (PARTITION BY user_id
              ORDER BY plen DESC, route) = 1
    """,
)
def join_ip_prefix_lpm(spark: SparkSession, sf: str) -> DataFrame:
    """LONGEST-PREFIX-MATCH join — the IP-to-CIDR routing/geo lookup
    vanilla SQL can only express as a BETWEEN range join (which plans
    as a nested loop and dies at scale). The scalable form: expand
    each address into its ALLOWED prefix lengths (one shifted key per
    length — here /8 and /16, nested so LPM genuinely disambiguates),
    EQUI-join each against the broadcast route table, keep the
    longest match per key via one window. At 100 TB this is
    len(plens) broadcast hash joins over one scan — no range
    predicate anywhere. Addresses derive from user_id by a Knuth
    multiplicative hash both engines replay."""
    ips = (
        load(spark, sf, "events")
        .select("user_id")
        .distinct()
        .select(
            "user_id",
            ((F.col("user_id") * 2654435761) % 4294967296).alias("ip32"),
        )
    )
    n = load(spark, sf, "nation")
    routes8 = n.select(
        ((F.col("n_nationkey") * 10) % 256).alias("pfx"),
        F.lit(8).alias("plen"),
        F.col("n_name").alias("route"),
    )
    routes16 = n.select(
        (((F.col("n_nationkey") * 10) % 256) * 256 + F.col("n_nationkey")).alias(
            "pfx"
        ),
        F.lit(16).alias("plen"),
        F.concat(F.col("n_name"), F.lit("-metro")).alias("route"),
    )
    c8 = ips.join(
        F.broadcast(routes8),
        F.shiftright("ip32", 24) == F.col("pfx"),
    ).select("user_id", "ip32", "plen", "route")
    c16 = ips.join(
        F.broadcast(routes16),
        F.shiftright("ip32", 16) == F.col("pfx"),
    ).select("user_id", "ip32", "plen", "route")
    cand = c8.unionAll(c16)
    w = Window.partitionBy("user_id").orderBy(
        F.col("plen").desc(), F.col("route").asc()
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "ip32",
            F.col("plen").cast("int").alias("prefix_len"),
            "route",
        )
    )




@query(
    "s4_fixed_width_roundtrip",
    oracle="""
    WITH w AS (
      SELECT event_id,
             lpad(upper(to_hex(user_id)), 16, '0')
             || lpad(upper(to_hex(CAST(floor(epoch(ts)) AS BIGINT))),
                     16, '0')
             || lpad(upper(to_hex(CAST(round(value * 100) AS BIGINT))),
                     16, '0') AS wire_hex,
             user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    )
    SELECT event_id, wire_hex,
           (CAST('0x' || substr(wire_hex, 1, 16) AS BIGINT) = user_id
            AND CAST('0x' || substr(wire_hex, 17, 16) AS BIGINT) = epoch_s
            AND CAST('0x' || substr(wire_hex, 33, 16) AS BIGINT) = cents)
             AS roundtrip_ok
    FROM w
    """,
)
def s4_fixed_width_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """FIXED-WIDTH BINARY wire format (S4's sibling for the
    non-JSON legacy feeds every ingest eventually meets): each event
    packs into three big-endian u64 hex fields (id, epoch, cents),
    then the SAME query decodes the frame back and asserts field
    equality — an encode/decode asymmetry shows up as
    roundtrip_ok=false rows on either engine. Pure JVM hex/conv
    column expressions, zero UDFs; at scale this is a free ride on
    the ingest scan. (Spark `hex`/`conv(16,10)` ≡ DuckDB
    `to_hex` / '0x'-cast — the established keystream idiom.)"""
    e = load(spark, sf, "events")
    epoch_s = F.floor(_usec("ts") / F.lit(1_000_000)).cast("long")
    cents = F.round(F.col("value") * 100).cast("long")
    fld = lambda c: F.lpad(F.hex(c), 16, "0")  # noqa: E731
    w = e.select(
        "event_id",
        F.concat(
            fld(F.col("user_id")), fld(epoch_s), fld(cents)
        ).alias("wire_hex"),
        F.col("user_id").alias("uid"),
        epoch_s.alias("es"),
        cents.alias("cc"),
    )
    dec = lambda pos: F.conv(  # noqa: E731
        F.substring("wire_hex", pos, 16), 16, 10
    ).cast("long")
    return w.select(
        "event_id",
        "wire_hex",
        (
            (dec(1) == F.col("uid"))
            & (dec(17) == F.col("es"))
            & (dec(33) == F.col("cc"))
        ).alias("roundtrip_ok"),
    )




@query(
    "join_scd2_pointintime",
    oracle="""
    WITH flagged AS (
      SELECT DISTINCT e.user_id AS k
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      WHERE e.event_type = 'error'
        AND e.ts < TIMESTAMP '2024-01-15'
    ),
    dim AS (
      SELECT c_custkey AS k, c_mktsegment AS seg,
             TIMESTAMP '2024-01-01' AS valid_from,
             CASE WHEN f.k IS NOT NULL
                  THEN TIMESTAMP '2024-01-15'
                  ELSE TIMESTAMP '2099-01-01' END AS valid_to
      FROM customer LEFT JOIN flagged f ON c_custkey = f.k
      UNION ALL
      SELECT k, 'FLAGGED', TIMESTAMP '2024-01-15',
             TIMESTAMP '2099-01-01'
      FROM flagged
    ),
    fact AS (
      SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    )
    SELECT d.seg,
           date_diff('day', DATE '2024-01-01', CAST(f.ts AS DATE)) // 7
             AS week,
           CAST(count(*) AS BIGINT) AS purchases,
           CAST(sum(f.cents) AS BIGINT) AS cents
    FROM fact f
    JOIN dim d ON f.user_id = d.k
      AND f.ts >= d.valid_from AND f.ts < d.valid_to
    GROUP BY 1, 2
    """,
)
def join_scd2_pointintime(spark: SparkSession, sf: str) -> DataFrame:
    """POINT-IN-TIME (as-of validity) join against an SCD2 dimension —
    the warehouse resolution step after scd2_dim_history writes
    versions: every purchase resolves to the segment version VALID AT
    ITS EVENT TIME (users with a pre-Jan-15 error event flip to a
    FLAGGED version effective Jan 15), then revenue rolls up by
    resolved segment × week. The join is an EQUI-join on the surrogate
    key with the validity range as a post-join filter — version
    fan-out per key is ≤2, so there is no interval cross-join and the
    plan survives any key cardinality; at 100 TB the dim side
    broadcasts (or buckets with the fact on k). Integer cents."""
    e = load(spark, sf, "events")
    c = load(spark, sf, "customer")
    eff = F.lit("2024-01-15").cast("timestamp")
    far = F.lit("2099-01-01").cast("timestamp")
    flagged = (
        e.filter(
            (F.col("event_type") == "error") & (F.col("ts") < eff)
        )
        .join(c, e.user_id == c.c_custkey)
        .select(F.col("user_id").alias("k"))
        .distinct()
    )
    flagged = flagged.localCheckpoint(eager=False)  # consumed twice
    base = c.join(
        flagged.withColumn("_f", F.lit(1)),
        c.c_custkey == flagged.k,
        "left",
    ).select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.lit("2024-01-01").cast("timestamp").alias("valid_from"),
        F.when(F.col("_f").isNotNull(), eff).otherwise(far).alias(
            "valid_to"
        ),
    )
    flip = flagged.select(
        "k",
        F.lit("FLAGGED").alias("seg"),
        eff.alias("valid_from"),
        far.alias("valid_to"),
    )
    dim = base.unionAll(flip)
    fact = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    week = (
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        )
        / 7
    ).cast("long")
    joined = fact.join(
        F.broadcast(dim),
        (fact.user_id == dim.k)
        & (fact.ts >= dim.valid_from)
        & (fact.ts < dim.valid_to),
    )
    return joined.groupBy("seg", week.alias("week")).agg(
        F.count(F.lit(1)).cast("long").alias("purchases"),
        F.sum("cents").cast("long").alias("cents"),
    )




@query(
    "join_nearest_event",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS knd
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    seq AS (
      SELECT user_id, ts, event_id, knd,
             last_value(CASE WHEN knd = 0 THEN ts END IGNORE NULLS)
               OVER w_back AS prev_ts,
             last_value(CASE WHEN knd = 0 THEN event_id END IGNORE NULLS)
               OVER w_back AS prev_id,
             first_value(CASE WHEN knd = 0 THEN ts END IGNORE NULLS)
               OVER w_fwd AS next_ts,
             first_value(CASE WHEN knd = 0 THEN event_id END IGNORE NULLS)
               OVER w_fwd AS next_id
      FROM tagged
      WINDOW
        w_back AS (PARTITION BY user_id ORDER BY ts, knd, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_fwd AS (PARTITION BY user_id ORDER BY ts, knd, event_id
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    ),
    chosen AS (
      SELECT user_id, event_id, ts,
             CASE
               WHEN prev_ts IS NULL AND next_ts IS NULL THEN NULL
               WHEN next_ts IS NULL THEN prev_id
               WHEN prev_ts IS NULL THEN next_id
               WHEN date_diff('microsecond', prev_ts, ts)
                    <= date_diff('microsecond', ts, next_ts) THEN prev_id
               ELSE next_id
             END AS click_id,
             CASE
               WHEN prev_ts IS NULL AND next_ts IS NULL THEN NULL
               WHEN next_ts IS NULL
                 THEN date_diff('microsecond', prev_ts, ts)
               WHEN prev_ts IS NULL
                 THEN date_diff('microsecond', ts, next_ts)
               WHEN date_diff('microsecond', prev_ts, ts)
                    <= date_diff('microsecond', ts, next_ts)
                 THEN date_diff('microsecond', prev_ts, ts)
               ELSE date_diff('microsecond', ts, next_ts)
             END AS delta_us
      FROM seq WHERE knd = 1
    )
    SELECT user_id, event_id AS purchase_id,
           CAST(click_id AS BIGINT) AS click_id,
           CAST(delta_us AS BIGINT) AS delta_us,
           CAST(delta_us // 1000000 AS BIGINT) AS delta_s
    FROM chosen
    """,
)
def join_nearest_event(spark: SparkSession, sf: str) -> DataFrame:
    """BIDIRECTIONAL NEAREST (as-of either direction) join: each
    purchase matched to the user's temporally CLOSEST click —
    backward ties beat forward (the attribution convention), clicks
    at the same timestamp sort before purchases so a same-second
    click is a 0-delta backward match. Implemented WITHOUT a range
    join: one union-tag sort per user (two frames over the same
    window — running last non-null backward, first non-null
    forward), so the cost is the sessionization shape — one shuffle
    on user_id, no self-join, no inequality join. Deltas are exact
    integer seconds."""
    e = load(spark, sf, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    tagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias(
            "knd"
        ),
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("ts", "knd", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts", "knd", "event_id")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    click_ts = F.when(F.col("knd") == 0, F.col("ts"))
    click_id = F.when(F.col("knd") == 0, F.col("event_id"))
    seq = tagged.select(
        "user_id",
        "ts",
        "event_id",
        "knd",
        F.last(click_ts, ignorenulls=True).over(wb).alias("prev_ts"),
        F.last(click_id, ignorenulls=True).over(wb).alias("prev_id"),
        F.first(click_ts, ignorenulls=True).over(wf).alias("next_ts"),
        F.first(click_id, ignorenulls=True).over(wf).alias("next_id"),
    ).filter(F.col("knd") == 1)
    back = F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
    fwd = F.expr("timestampdiff(MICROSECOND, ts, next_ts)")
    chosen_id = (
        F.when(
            F.col("prev_ts").isNull() & F.col("next_ts").isNull(),
            F.lit(None),
        )
        .when(F.col("next_ts").isNull(), F.col("prev_id"))
        .when(F.col("prev_ts").isNull(), F.col("next_id"))
        .when(back <= fwd, F.col("prev_id"))
        .otherwise(F.col("next_id"))
    )
    chosen_d = (
        F.when(
            F.col("prev_ts").isNull() & F.col("next_ts").isNull(),
            F.lit(None),
        )
        .when(F.col("next_ts").isNull(), back)
        .when(F.col("prev_ts").isNull(), fwd)
        .when(back <= fwd, back)
        .otherwise(fwd)
    )
    return seq.select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        chosen_id.cast("long").alias("click_id"),
        chosen_d.cast("long").alias("delta_us"),
    ).withColumn("delta_s", F.expr("delta_us div 1000000"))




@query(
    "agg_linear_counting",
    oracle="""
    WITH b AS (
      SELECT DISTINCT
             CAST((strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1)
                  * 256
                  + (strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1)
                    * 16
                  + (strpos('0123456789abcdef', substr(md5(text), 3, 1)) - 1)
               AS BIGINT) AS bucket
      FROM documents
    ),
    c AS (
      SELECT CAST(count(*) AS BIGINT) AS occupied,
             CAST(4096 AS BIGINT) AS m
      FROM b
    ),
    t AS (SELECT CAST(count(DISTINCT md5(text)) AS BIGINT)
            AS true_distinct FROM documents)
    SELECT c.occupied, c.m, t.true_distinct,
           round(c.m * ln(CAST(c.m AS DOUBLE) / (c.m - c.occupied)), 6)
             AS lc_estimate,
           round(c.m * ln(CAST(c.m AS DOUBLE) / (c.m - c.occupied))
                 / t.true_distinct - 1, 12) AS rel_err
    FROM c CROSS JOIN t
    """,
)
def agg_linear_counting(spark: SparkSession, sf: str) -> DataFrame:
    """LINEAR COUNTING distinct estimate (Whang et al. 1990): hash
    each text into m=4096 buckets, count occupied buckets z, and
    estimate n̂ = m·ln(m/(m−z)) — the small-cardinality sketch that
    beats HLL below ~m distinct values, and the HASH-VERIFIABLE
    member of the sketch family (occupancy is deterministic, so
    unlike agg_hll_mergeable this one carries a full value oracle).
    Bucket = first 3 md5 hex digits (engine-portable integer
    arithmetic); the occupancy census is one DISTINCT + COUNT —
    map-combinable; the estimator (10³-magnitude — round 6, inside the
    engine-round safety envelope) and its relative error vs the
    exact distinct count are mirrored doubles."""
    d = load(spark, sf, "documents")
    hx = F.md5(F.col("text").cast("binary"))

    def digit(i: int) -> F.Column:
        return F.expr(
            "instr('0123456789abcdef',"
            f" substr(md5(cast(text as binary)), {i}, 1)) - 1"
        )

    bucket = (digit(1) * 256 + digit(2) * 16 + digit(3)).cast("long")
    occ = d.select(bucket.alias("bucket")).distinct().agg(
        F.count(F.lit(1)).alias("occupied")
    )
    tr = d.agg(F.countDistinct(hx).alias("true_distinct"))
    c = occ.crossJoin(F.broadcast(tr)).select(
        "occupied",
        F.lit(4096).cast("long").alias("m"),
        "true_distinct",
    )
    est = F.col("m") * F.log(
        F.col("m").cast("double") / (F.col("m") - F.col("occupied"))
    )
    return c.select(
        "occupied",
        "m",
        "true_distinct",
        F.round(est, 6).alias("lc_estimate"),
        F.round(est / F.col("true_distinct") - 1, 12).alias("rel_err"),
    )




@query(
    "s4_csv_roundtrip",
    oracle="""
    SELECT c_custkey,
           c_name AS name_rt,
           c_mktsegment AS seg_rt,
           CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents_rt,
           TRUE AS roundtrip_ok
    FROM customer
    """,
)
def s4_csv_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """CSV SERIALIZE → PARSE roundtrip on the customer dim — the S4
    serialization contract for the second wire format (fixed-width
    and JSON have their own roundtrip queries): to_csv writes each
    row with quoting enabled, from_csv parses it back against the
    declared schema, and the query RETURNS THE PARSED FIELDS — the
    oracle recomputes them from the base table, so any quoting,
    escaping, or type-coercion asymmetry between the two paths
    mismatches (names contain '#' and commas would be quoted; the
    balance rides through as a string-ified double re-cast to exact
    cents). Pure JVM expressions; one scan."""
    c = load(spark, sf, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    csv = c.select(
        "c_custkey",
        F.to_csv(
            F.struct("c_name", "c_mktsegment", "c_acctbal")
        ).alias("line"),
    )
    schema = "c_name string, c_mktsegment string, c_acctbal double"
    parsed = csv.select(
        "c_custkey",
        F.from_csv("line", schema).alias("p"),
        "line",
    )
    return parsed.select(
        "c_custkey",
        F.col("p.c_name").alias("name_rt"),
        F.col("p.c_mktsegment").alias("seg_rt"),
        F.round(F.col("p.c_acctbal") * 100)
        .cast("long")
        .alias("bal_cents_rt"),
        (
            F.col("p.c_name").isNotNull()
            & F.col("p.c_mktsegment").isNotNull()
        ).alias("roundtrip_ok"),
    )




@query(
    "join_asof_tolerance",
    oracle="""
    WITH orders_d AS (
      SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    ),
    matched AS (
      SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate, e.ts
      FROM events e ASOF LEFT JOIN orders_d o
        ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    )
    SELECT event_id, user_id,
           CASE WHEN epoch_us(ts) - epoch_us(CAST(o_orderdate AS
                    TIMESTAMP)) <= 604800000000
                THEN o_orderkey END AS o_orderkey_7d
    FROM matched
    """,
)
def join_asof_tolerance(spark: SparkSession, sf: str) -> DataFrame:
    """TOLERANCE-BOUNDED as-of join (pandas merge_asof(tolerance=...)
    semantics): latest order at or before each event, but only if it
    landed within the last 7 days — matches farther back are nulled,
    the event row survives. The staleness bound every online
    feature-store lookup needs (a price from last year must NOT join
    onto today's event). Same single-shuffle union+window carry as
    join_asof (operators.asof_join) — the bound is one comparison on
    the carried match time, adding zero shuffles."""
    from ..operators import asof_join

    e = load(spark, sf, "events").select(
        "event_id",
        F.col("user_id"),
        _usec(F.col("ts")).alias("_ts_us"),
    )
    o = (
        load(spark, sf, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
        .select(
            F.col("o_custkey").alias("user_id"),
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
                "_od_us"
            ),
            "o_orderkey",
        )
    )
    out = asof_join(
        e,
        o,
        on="user_id",
        left_time="_ts_us",
        right_time="_od_us",
        right_payload=["o_orderkey"],
        tolerance=7 * 24 * 3600 * 1_000_000,
    )
    return out.select(
        "event_id", "user_id", F.col("o_orderkey").alias("o_orderkey_7d")
    )




@query(
    "s3_csv_malformed_rate",
    oracle="""
    WITH lines AS (
      SELECT event_type,
             CAST(event_id AS VARCHAR) || ',' ||
             CAST(user_id AS VARCHAR) || ',' || event_type ||
             (CASE WHEN event_id % 7 = 0 THEN ';' ELSE ',' END) ||
             CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR)
               AS line
      FROM events
    ),
    parsed AS (
      SELECT event_type, line,
             len(string_split(line, ',')) = 4 AS ok,
             string_split(line, ',') AS f
      FROM lines
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_msgs,
           CAST(sum(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT)
             AS n_malformed,
           CAST(sum(CASE WHEN ok THEN CAST(f[4] AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS recovered_cents,
           CAST(sum(CASE WHEN ok THEN 0 ELSE 1 END) AS DOUBLE)
             / count(*) AS malformed_rate
    FROM parsed GROUP BY event_type
    """,
)
def s3_csv_malformed_rate(spark: SparkSession, sf: str) -> DataFrame:
    """CSV ingest QUARANTINE-RATE audit — the delimiter-format twin of
    s3_json_malformed_rate: serialize each event to a 4-field CSV
    line, deterministically corrupt 1-in-7 (the last delimiter
    becomes ';' — the classic wrong-dialect tear), then parse back:
    field-count mismatches quarantine, intact lines recover their
    exact integer cents. The value travels as integer cents so the
    wire string is byte-identical on both engines (double→string
    formatting is not). Pure column expressions + one aggregate —
    the validity flag rides the ingest scan for free, and the DLQ
    routing is the same `.filter(~ok)` split the JSON path uses."""
    e = load(spark, sf, "events")
    line = F.concat(
        F.col("event_id").cast("string"),
        F.lit(","),
        F.col("user_id").cast("string"),
        F.lit(","),
        F.col("event_type"),
        F.when(F.col("event_id") % 7 == 0, F.lit(";")).otherwise(
            F.lit(",")
        ),
        F.round(F.col("value") * 100).cast("long").cast("string"),
    )
    parsed = e.select(
        "event_type",
        F.split(line, ",").alias("f"),
    ).select(
        "event_type",
        "f",
        (F.size("f") == 4).alias("ok"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_msgs"),
        F.sum(F.when(F.col("ok"), 0).otherwise(1))
        .cast("long")
        .alias("n_malformed"),
        F.sum(
            F.when(
                F.col("ok"), F.element_at("f", 4).cast("long")
            ).otherwise(0)
        )
        .cast("long")
        .alias("recovered_cents"),
        (
            F.sum(F.when(F.col("ok"), 0).otherwise(1)).cast("double")
            / F.count(F.lit(1))
        ).alias("malformed_rate"),
    )




@query(
    "win_forward_fill_gaps",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events
      WHERE CAST(ts AS DATE) >= DATE '2024-01-01'
        AND datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) <= 29
      GROUP BY 1, 2
    ),
    types AS (SELECT DISTINCT event_type FROM daily),
    spine AS (
      SELECT t.event_type, CAST(s.i AS BIGINT) AS day
      FROM types t, unnest(range(0, 30)) AS s(i)
    ),
    joined AS (
      SELECT s.event_type, s.day, d.cents
      FROM spine s LEFT JOIN daily d
        ON d.event_type = s.event_type AND d.day = s.day
    )
    SELECT event_type, day,
           coalesce(last_value(cents IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
             AS cents_filled,
           cents IS NULL AS was_filled
    FROM joined
    """,
)
def win_forward_fill_gaps(spark: SparkSession, sf: str) -> DataFrame:
    """FORWARD-FILL (LOCF) over a dense day spine — the gap-repair
    primitive every downstream window op assumes: build the full
    type × 30-day grid, left-join the observed daily totals, carry
    the last observation forward (zero before the first), and FLAG
    the filled rows so consumers can weight them down. Spark
    `F.last(ignorenulls)` ≡ DuckDB `last_value IGNORE NULLS` (the
    proven device); integer cents end to end. The spine is a
    broadcast dimension fan-out — dense-grid size = types × days, not
    events — and the fill window partitions by type, so the plan is
    one shuffle at any corpus size."""
    e = load(spark, sf, "events")
    day = F.datediff(
        F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
    )
    daily = (
        e.select(
            "event_type",
            day.alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
        .filter((F.col("day") >= 0) & (F.col("day") <= 29))
        .groupBy("event_type", "day")
        .agg(F.sum("c").alias("cents"))
    )
    daily = daily.localCheckpoint(eager=False)  # consumed twice
    types = daily.select("event_type").distinct()
    spine = types.crossJoin(
        F.broadcast(
            spark.range(30).select(F.col("id").cast("long").alias("day"))
        )
    )
    joined = spine.join(daily, ["event_type", "day"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "event_type",
        "day",
        F.coalesce(
            F.last("cents", ignorenulls=True).over(w), F.lit(0)
        ).alias("cents_filled"),
        F.col("cents").isNull().alias("was_filled"),
    )




@query(
    "win_range_interval_sum",
    oracle="""
    WITH p AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id, epoch_s, cents,
           CAST(sum(cents) OVER (
             PARTITION BY user_id ORDER BY epoch_s
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS sum_1h_cents,
           CAST(count(*) OVER (
             PARTITION BY user_id ORDER BY epoch_s
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_1h
    FROM p
    """,
)
def win_range_interval_sum(spark: SparkSession, sf: str) -> DataFrame:
    """TRUE RANGE WINDOW (time-interval frame): per purchase event,
    the exact trailing-1-hour spend and count for its user — RANGE
    BETWEEN 3600 PRECEDING on integer epoch seconds, NOT a row-count
    frame (rows-frames silently break on bursty streams; this is the
    velocity feature real fraud rules use). Spark `rangeBetween` ≡
    ANSI RANGE on both engines over exact integers. One shuffle on
    user_id; within-partition the frame is a sliding pointer — linear
    per user regardless of burst size."""
    e = load(spark, sf, "events").filter(
        F.col("event_type") == "purchase"
    )
    p = e.select(
        "user_id",
        F.floor(_usec("ts") / 1_000_000).cast("long").alias("epoch_s"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch_s")
        .rangeBetween(-3600, 0)
    )
    return p.select(
        "user_id",
        "epoch_s",
        "cents",
        F.sum("cents").over(w).cast("long").alias("sum_1h_cents"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_1h"),
    )




@query(
    "agg_weighted_percentile",
    oracle="""
    WITH pr AS (
      SELECT l_returnflag AS returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
             CAST(l_quantity AS BIGINT) AS qty
      FROM lineitem
    ),
    grouped AS (
      SELECT returnflag, price_cents, CAST(sum(qty) AS BIGINT) AS w
      FROM pr GROUP BY returnflag, price_cents
    ),
    cum AS (
      SELECT returnflag, price_cents, w,
             CAST(sum(w) OVER (PARTITION BY returnflag
               ORDER BY price_cents) AS BIGINT) AS cw,
             CAST(sum(w) OVER (PARTITION BY returnflag) AS BIGINT) AS tw
      FROM grouped
    )
    SELECT returnflag, CAST(max(tw) AS BIGINT) AS total_qty,
           CAST(min(CASE WHEN 4 * cw >= tw THEN price_cents END)
             AS BIGINT) AS wp25_cents,
           CAST(min(CASE WHEN 2 * cw >= tw THEN price_cents END)
             AS BIGINT) AS wp50_cents,
           CAST(min(CASE WHEN 4 * cw >= 3 * tw THEN price_cents END)
             AS BIGINT) AS wp75_cents
    FROM cum GROUP BY returnflag
    """,
)
def agg_weighted_percentile(spark: SparkSession, sf: str) -> DataFrame:
    """QUANTITY-WEIGHTED PRICE PERCENTILES per return flag — 'half the
    UNITS ship at or below this price', which is NOT the row median
    (the metric behind volume-weighted pricing reviews). Exact by
    construction: group to the (flag, price) grain, one cumulative-
    weight window per flag, and the q-th weighted percentile is the
    smallest price with q·total ≤ cum·denominator — pure integer
    cross-multiplications, no interpolation, no float. The cumulative
    window rides the price-grain rollup (bounded by distinct prices),
    not raw lineitem."""
    li = load(spark, sf, "lineitem")
    pr = li.select(
        F.col("l_returnflag").alias("returnflag"),
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("price_cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    grouped = pr.groupBy("returnflag", "price_cents").agg(
        F.sum("qty").alias("w")
    )
    wc = Window.partitionBy("returnflag").orderBy("price_cents")
    cum = grouped.select(
        "returnflag",
        "price_cents",
        F.sum("w").over(
            wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cw"),
        F.sum("w").over(Window.partitionBy("returnflag")).alias("tw"),
    )
    return cum.groupBy("returnflag").agg(
        F.max("tw").cast("long").alias("total_qty"),
        F.min(
            F.when(4 * F.col("cw") >= F.col("tw"), F.col("price_cents"))
        )
        .cast("long")
        .alias("wp25_cents"),
        F.min(
            F.when(2 * F.col("cw") >= F.col("tw"), F.col("price_cents"))
        )
        .cast("long")
        .alias("wp50_cents"),
        F.min(
            F.when(
                4 * F.col("cw") >= 3 * F.col("tw"), F.col("price_cents")
            )
        )
        .cast("long")
        .alias("wp75_cents"),
    )




@query(
    "sessionize_entry_exit_matrix",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                         OVER (PARTITION BY user_id
                               ORDER BY ts ASC, event_id ASC)
                       > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts ASC, event_id ASC) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sess AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(sum(new_session)
                  OVER (PARTITION BY user_id
                        ORDER BY ts ASC, event_id ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_idx
      FROM gaps
    ), keyed AS (
      SELECT user_id, session_idx, event_type,
             lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
               || lpad(CAST(event_id AS VARCHAR), 12, '0') AS ord_key
      FROM sess
    ), ends AS (
      SELECT user_id, session_idx,
             min_by(event_type, ord_key) AS entry_type,
             max_by(event_type, ord_key) AS exit_type,
             CAST(count(*) AS BIGINT) AS n_events
      FROM keyed GROUP BY user_id, session_idx
    )
    SELECT entry_type, exit_type,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces
    FROM ends GROUP BY entry_type, exit_type
    """,
)
def sessionize_entry_exit_matrix(
    spark: SparkSession, sf: str
) -> DataFrame:
    """SESSION ENTRY × EXIT MATRIX — which event type opens each
    30-min session and which closes it, with bounce counts
    (single-event sessions): the landing/abandonment panel
    sessionize_gap30m's size histogram can't show ('sessions that
    START with an error and END with an error are crashes, not
    visits'). Same lag + running-sum session device, then one
    min_by/max_by per session keyed on a zero-padded
    (epoch_us, event_id) string — deterministic ends, k²-bounded
    output."""
    e = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    prev = F.lag("ts").over(w)
    new_sess = F.when(
        prev.isNull() | ((_usec(F.col("ts")) - _usec(prev)) > 1800000000),
        1,
    ).otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = e.withColumn(
        "session_idx", F.sum(new_sess).over(wsum)
    )
    # DuckDB min_by has no struct-key overload — a zero-padded
    # (epoch_us, event_id) string key orders identically on both
    ord_key = F.concat(
        F.lpad(_usec(F.col("ts")).cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    ends = sess.withColumn("ord_key", ord_key).groupBy(
        "user_id", "session_idx"
    ).agg(
        F.min_by("event_type", F.col("ord_key")).alias("entry_type"),
        F.max_by("event_type", F.col("ord_key")).alias("exit_type"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return ends.groupBy("entry_type", "exit_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_bounces"),
    )




# ===========================================================================
# Coverage round 12: oracle-paired twins for the legacy rows-tier
# residue (VERDICT_r11 item 6) — pin the HLL merge ALGEBRA and one
# Lloyd's assignment round in fully hash-verifiable form.
# ===========================================================================


@query(
    "agg_hll_merge_algebra",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
           TRUE AS merge_associative,
           TRUE AS direct_eq_merged
    FROM events GROUP BY event_type
    """,
)
def agg_hll_merge_algebra(spark: SparkSession, sf: str) -> DataFrame:
    """The hash-tier twin of `agg_hll_mergeable`: pins the sketch MERGE
    ALGEBRA itself. At lgConfigK=16 the DataSketches HLL sketch is
    measured exact through ≥6000 distinct values (sf0.1's largest
    event_type domain is 1500), so (a) the merged per-day estimate must
    EQUAL the exact distinct count DuckDB computes, (b) day→month→total
    two-level union must equal one-level union (merge associativity —
    the property that makes a day's sketch roll up into any
    week/month/cube grouping without rescanning raw data), and (c) a
    direct whole-group sketch must equal the merged one. All three
    laws are value-checked by the oracle; the production-sized
    `agg_hll_mergeable` (default lgK, estimate regime) stays the
    honest rows-tier scale path."""
    e = load(spark, sf, "events").withColumn("day", F.col("ts").cast("date"))
    daily = e.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id", F.lit(16)).alias("sk")
    )
    daily = daily.localCheckpoint(eager=False)  # consumed twice
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged"),
        F.count(F.lit(1)).alias("n_days"),
    )
    two_level = (
        daily.withColumn("mon", F.trunc("day", "month"))
        .groupBy("event_type", "mon")
        .agg(F.hll_union_agg("sk").alias("sk"))
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_2level"))
    )
    direct = e.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(16))).alias(
            "est_direct"
        )
    )
    return (
        merged.join(two_level, "event_type")
        .join(direct, "event_type")
        .select(
            "event_type",
            F.col("est_merged").cast("long").alias("n_users"),
            F.col("n_days").cast("long").alias("n_days"),
            (F.col("est_merged") == F.col("est_2level")).alias(
                "merge_associative"
            ),
            (F.col("est_direct") == F.col("est_merged")).alias(
                "direct_eq_merged"
            ),
        )
    )


# `flagship` lives here (not _qshared) so its runtime global lookup of
# flagship_top_reported resolves in this module's namespace.
def flagship(spark: SparkSession, sf: str) -> DataFrame:
    return flagship_top_reported(spark, sf)


__all__ = sorted(n for n in dir() if not n.startswith("__"))
