package graft.probes

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.etl._
import graft.analytics.Kpi
import graft.sources.Readers

/** SURVEY §2.13 probe catalog: one deterministic query per operator family,
  * each with a DuckDB oracle over the same `/root/testdata` tables.
  *
  * Conventions (driver compare contract):
  *   - every query ends in a total ORDER BY (oracle: explicit `ASC NULLS
  *     FIRST` to match Spark's ascending default);
  *   - computed timestamps are stringified with the canonical 6-digit-µs
  *     format ([[Schemas.TsFmt]] ≡ DuckDB `%Y-%m-%d %H:%M:%S.%f`);
  *   - computed integers are BIGINT on both sides, computed decimals are
  *     `round(x, 4)` (or 6 for cosines) doubles.
  */
object ParityProbes {

  final case class Probe(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  import EventsVocab._

  private def t(s: SparkSession, dir: String, n: String) = Readers.table(s, dir, n)

  /** Atomic single-file feed for the streaming probes: one coalesced part
    * file is staged OUTSIDE the watched dir and renamed in, so a logical
    * batch appears all-or-nothing — the running stream triggers
    * continuously, and a multi-file write can be listed mid-write,
    * splitting one logical batch across two micro-batches and shifting
    * every later __batch label.
    */
  private[probes] def feedAtomic(s: SparkSession, base: String, in: String,
      df: DataFrame, tag: String): Unit = {
    val stage = s"$base/stage_$tag"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val sp = new org.apache.hadoop.fs.Path(stage)
    val fs = sp.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(in))
    val part = fs.listStatus(sp).map(_.getPath)
      .find(_.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(s"no part file staged at $stage"))
    if (!fs.rename(part, new org.apache.hadoop.fs.Path(s"$in/$tag.parquet")))
      throw new java.io.IOException(s"feed rename failed for $tag")
    fs.delete(sp, true)
  }
  private def fmtTs(c: org.apache.spark.sql.Column) = date_format(c, Schemas.TsFmt)
  private val F = "%Y-%m-%d %H:%M:%S.%f"

  // — S1: multi-line quoted CSV scan (reference ingest shape) ———————————
  private val q01 = Probe(
    "q01_csv_multiline_scan",
    (s, dir) => {
      val tmp = s"${graft.TmpDir.root}/tmp/q01_csv_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      t(s, dir, "events").select(
          col("event_id"),
          fmtTs(col("ts")).as("ts_str"),
          col("user_id"),
          // embedded newline + JSON quotes exercise multiLine/quote/escape
          concat(col("event_type"), lit("\n"), col("props")).as("multiline_note"),
          round(col("value") * 100).cast("long").as("value_cents"))
        .coalesce(4)
        .write.mode("overwrite")
        .options(Map("header" -> "true", "quote" -> "\"", "escape" -> "\""))
        .csv(tmp)
      Readers.parcelCsv(s, tmp)
        .select(
          col("event_id").cast("long").as("event_id"),
          col("ts_str"),
          col("user_id").cast("long").as("user_id"),
          col("multiline_note"),
          col("value_cents").cast("long").as("value_cents"))
        .orderBy("event_id")
    },
    Some(s"""SELECT event_id, strftime(ts, '$F') AS ts_str, user_id,
            |  event_type || chr(10) || props AS multiline_note,
            |  CAST(round(value * 100) AS BIGINT) AS value_cents
            |FROM events ORDER BY event_id ASC NULLS FIRST""".stripMargin))

  // — S2: parquet scan ———————————————————————————————————————————————
  private val q02 = Probe(
    "q02_parquet_scan",
    (s, dir) => t(s, dir, "lineitem")
      .withColumn("l_shipdate", fmtTs(col("l_shipdate")))
      .orderBy("l_orderkey", "l_linenumber").limit(100),
    Some(s"""SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
            |  l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
            |  strftime(l_shipdate, '$F') AS l_shipdate
            |FROM lineitem
            |ORDER BY l_orderkey ASC NULLS FIRST, l_linenumber ASC NULLS FIRST
            |LIMIT 100""".stripMargin))

  // — P1/P2/F1: from_json + nested flatten —————————————————————————————
  private val q03 = Probe(
    "q03_json_flatten",
    (s, dir) => t(s, dir, "events")
      .withColumn("k", k)
      .withColumn("nested", from_json(
        concat(lit("{\"a\":{\"b\":{\"c\":"), col("user_id"), lit("}}}")),
        org.apache.spark.sql.types.StructType.fromDDL("a STRUCT<b: STRUCT<c: BIGINT>>")))
      .select(col("event_id"), col("k"), col("nested.a.b.c").as("deep_c"))
      .orderBy("event_id"),
    Some(s"""SELECT event_id, $kSql AS k,
            |  CAST(json_extract_string('{"a":{"b":{"c":' || user_id || '}}}', '$$.a.b.c') AS BIGINT) AS deep_c
            |FROM events ORDER BY event_id ASC NULLS FIRST""".stripMargin))

  // — P5/F2/F13: concat_ws natural key + null-rejection filter ——————————
  private val q04 = Probe(
    "q04_concat_key_filter",
    (s, dir) => t(s, dir, "customer")
      .filter(col("c_mktsegment").isNotNull && col("c_name").isNotNull)
      .select(
        concat_ws("_", col("c_mktsegment"), col("c_name")).as("client_key"),
        col("c_custkey"), col("c_acctbal"))
      .orderBy("client_key", "c_custkey"),
    Some("""SELECT concat_ws('_', c_mktsegment, c_name) AS client_key, c_custkey, c_acctbal
           |FROM customer
           |WHERE c_mktsegment IS NOT NULL AND c_name IS NOT NULL
           |ORDER BY client_key ASC NULLS FIRST, c_custkey ASC NULLS FIRST""".stripMargin))

  // — P7/F11/F12: isin filter + when-without-otherwise labeling ————————
  private def labelCol = when(col("event_type") === "signup" && sub.isin("REL", "APM"), "SENT")
    .when(col("event_type") === "purchase" && sub.isin("REL", "APM"), "DELIVERED_TO_POINT")
    .when(col("event_type") === "click", "PICKED_UP")
  private val labelSql =
    s"""CASE WHEN event_type = 'signup' AND $subSql IN ('REL','APM') THEN 'SENT'
       |     WHEN event_type = 'purchase' AND $subSql IN ('REL','APM') THEN 'DELIVERED_TO_POINT'
       |     WHEN event_type = 'click' THEN 'PICKED_UP' END""".stripMargin

  private val q05 = Probe(
    "q05_label_isin",
    (s, dir) => t(s, dir, "events")
      .filter(col("event_type").isin("signup", "purchase", "click", "view"))
      .select(col("event_id"), col("event_type"), sub.as("sub_code"), labelCol.as("label"))
      .orderBy("event_id"),
    Some(s"""SELECT event_id, event_type, $subSql AS sub_code, $labelSql AS label
            |FROM events WHERE event_type IN ('signup','purchase','click','view')
            |ORDER BY event_id ASC NULLS FIRST""".stripMargin))

  // — U1/P9/F3: tagged-projection union + distinct ——————————————————————
  private val q06 = Probe(
    "q06_union_distinct",
    (s, dir) => {
      val n = t(s, dir, "nation")
      n.select(col("n_nationkey"), col("n_name"), lit("collection").as("location_type"))
        .union(n.select(col("n_nationkey"), col("n_name"), lit("delivery").as("location_type")))
        .distinct()
        .orderBy("n_nationkey", "location_type")
    },
    Some("""SELECT DISTINCT * FROM (
           |  SELECT n_nationkey, n_name, 'collection' AS location_type FROM nation
           |  UNION ALL
           |  SELECT n_nationkey, n_name, 'delivery' AS location_type FROM nation)
           |ORDER BY n_nationkey ASC NULLS FIRST, location_type ASC NULLS FIRST""".stripMargin))

  // — F4-F9: DimDate build over orders ————————————————————————————————
  private val q07 = Probe(
    "q07_dimdate_build",
    (s, dir) => t(s, dir, "orders")
      .select(to_date(col("o_orderdate")).as("date"))
      .select(
        col("date"),
        year(col("date")).as("year"),
        month(col("date")).as("month"),
        dayofmonth(col("date")).as("day"),
        quarter(col("date")).as("quarter"),
        dayofweek(col("date")).as("weekday"))
      .dropDuplicates()
      .withColumn("date_id", SurrogateKeys.key(SurrogateKeys.Deterministic, col("date")))
      .orderBy("date"),
    Some(s"""SELECT d AS date, CAST(year(d) AS INTEGER) AS year, CAST(month(d) AS INTEGER) AS month,
            |  CAST(day(d) AS INTEGER) AS day, CAST(quarter(d) AS INTEGER) AS quarter,
            |  CAST(dayofweek(d) + 1 AS INTEGER) AS weekday,
            |  ${shaKeySql("d")} AS date_id
            |FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders)
            |ORDER BY date ASC NULLS FIRST""".stripMargin))

  // — A6: keyed dedup, deterministic row_number variant ————————————————
  private val q08 = Probe(
    "q08_dedup_keyed",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"), fmtTs(col("ts")).as("first_ts"))
        .orderBy("user_id", "event_type")
    },
    Some(s"""SELECT user_id, event_type, event_id, strftime(ts, '$F') AS first_ts
            |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
            |        ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST) AS rn FROM events)
            |WHERE rn = 1
            |ORDER BY user_id ASC NULLS FIRST, event_type ASC NULLS FIRST""".stripMargin))

  // — A7: whole-row dedup ———————————————————————————————————————————————
  private val q08b = Probe(
    "q08b_dedup_rows",
    (s, dir) => t(s, dir, "events")
      .select(col("user_id"), col("event_type")).dropDuplicates()
      .orderBy("user_id", "event_type"),
    Some("""SELECT DISTINCT user_id, event_type FROM events
           |ORDER BY user_id ASC NULLS FIRST, event_type ASC NULLS FIRST""".stripMargin))

  // — A1/F14: min(when) pivot + datediff ————————————————————————————————
  private def pivotedDf(s: SparkSession, dir: String): DataFrame = {
    val labeled = t(s, dir, "events")
      .filter(col("event_type").isin("signup", "purchase", "click"))
      .withColumn("event_type_lbl", labelCol)
    Kpi.withDurations(
      Kpi.pivotEarliest(labeled, "user_id", "event_type_lbl", "ts",
        Seq("SENT" -> "sent_time", "DELIVERED_TO_POINT" -> "delivered_time", "PICKED_UP" -> "picked_time")))
  }
  private val pivotSql =
    s"""SELECT user_id,
       |  min(CASE WHEN $labelSql = 'SENT' THEN ts END) AS sent_time,
       |  min(CASE WHEN $labelSql = 'DELIVERED_TO_POINT' THEN ts END) AS delivered_time,
       |  min(CASE WHEN $labelSql = 'PICKED_UP' THEN ts END) AS picked_time
       |FROM events WHERE event_type IN ('signup','purchase','click')
       |GROUP BY user_id""".stripMargin
  private val durationsSql =
    s"""SELECT user_id, sent_time, delivered_time, picked_time,
       |  CAST(date_diff('day', CAST(sent_time AS DATE), CAST(delivered_time AS DATE)) AS BIGINT) AS delivery_duration,
       |  CAST(date_diff('day', CAST(sent_time AS DATE), CAST(picked_time AS DATE)) AS BIGINT) AS lifecycle_duration,
       |  CAST(date_diff('day', CAST(delivered_time AS DATE), CAST(picked_time AS DATE)) AS BIGINT) AS pickup_duration
       |FROM ($pivotSql)""".stripMargin

  private val q09 = Probe(
    "q09_pivot_datediff",
    (s, dir) => pivotedDf(s, dir)
      .select(
        col("user_id"),
        fmtTs(col("sent_time")).as("sent_time"),
        fmtTs(col("delivered_time")).as("delivered_time"),
        fmtTs(col("picked_time")).as("picked_time"),
        col("delivery_duration").cast("long").as("delivery_duration"),
        col("lifecycle_duration").cast("long").as("lifecycle_duration"),
        col("pickup_duration").cast("long").as("pickup_duration"))
      .orderBy("user_id"),
    Some(s"""SELECT user_id, strftime(sent_time, '$F') AS sent_time,
            |  strftime(delivered_time, '$F') AS delivered_time,
            |  strftime(picked_time, '$F') AS picked_time,
            |  delivery_duration, lifecycle_duration, pickup_duration
            |FROM ($durationsSql) ORDER BY user_id ASC NULLS FIRST""".stripMargin))

  // — J1-J3: computed-key join + 2-conjunct join with literal tag ———————
  private val q10 = Probe(
    "q10_join_computed_key",
    (s, dir) => {
      val nation = t(s, dir, "nation")
      val dimNation = nation.select(
          concat_ws("_", lit("N"), col("n_nationkey")).as("nation_key"),
          col("n_name"))
        .withColumn("nation_id", SurrogateKeys.key(SurrogateKeys.Deterministic, col("nation_key")))
      val tagged = nation.select(col("n_nationkey"), col("n_regionkey"), lit("collection").as("tag"))
        .union(nation.select(col("n_nationkey"), col("n_regionkey"), lit("delivery").as("tag")))
      t(s, dir, "customer").as("c")
        .join(broadcast(dimNation).as("dn"),
          concat_ws("_", lit("N"), col("c.c_nationkey")) === col("dn.nation_key"), "left")
        .join(broadcast(tagged).as("tg"),
          col("c.c_nationkey") === col("tg.n_nationkey") && col("tg.tag") === lit("collection"), "left")
        .select(col("c.c_custkey"), col("dn.nation_id"), col("dn.n_name"),
          col("tg.n_regionkey"), col("tg.tag"))
        .orderBy("c_custkey")
    },
    Some(s"""SELECT c.c_custkey, dn.nation_id, dn.n_name, tg.n_regionkey, tg.tag
            |FROM customer c
            |LEFT JOIN (SELECT concat_ws('_', 'N', n_nationkey) AS nation_key, n_name,
            |             ${shaKeySql("concat_ws('_', 'N', n_nationkey)")} AS nation_id
            |           FROM nation) dn
            |  ON concat_ws('_', 'N', c.c_nationkey) = dn.nation_key
            |LEFT JOIN (SELECT n_nationkey, n_regionkey, 'collection' AS tag FROM nation
            |           UNION ALL SELECT n_nationkey, n_regionkey, 'delivery' FROM nation) tg
            |  ON c.c_nationkey = tg.n_nationkey AND tg.tag = 'collection'
            |ORDER BY c_custkey ASC NULLS FIRST""".stripMargin))

  // — J4: 4-conjunct null-sensitive left join ———————————————————————————
  private val q11 = Probe(
    "q11_join_null_sensitive",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val stateShape = ev.select(
        col("event_id"),
        col("event_type").as("state_code"),
        to_date(col("ts")).cast("string").as("state_date"),
        stateNature.as("state_nature"),
        concat(lit("SC"), k % 3).as("state_subcode"))
      val dimState = stateShape
        .select(col("state_code"), col("state_date"), col("state_nature"), col("state_subcode"))
        .dropDuplicates()
        .withColumn("state_id", SurrogateKeys.key(SurrogateKeys.Deterministic,
          col("state_code"), col("state_date"), col("state_nature"), col("state_subcode")))
      stateShape.as("d")
        .join(dimState.as("st"),
          col("d.state_code") === col("st.state_code") &&
            col("d.state_date") === col("st.state_date") &&
            col("d.state_nature") === col("st.state_nature") &&
            col("d.state_subcode") === col("st.state_subcode"),
          "left")
        .select(col("d.event_id"), col("st.state_id"))
        .orderBy("event_id")
    },
    Some(s"""WITH shape AS (
            |  SELECT event_id, event_type AS state_code,
            |    CAST(CAST(ts AS DATE) AS VARCHAR) AS state_date,
            |    $stateNatureSql AS state_nature,
            |    'SC' || ($kSql % 3) AS state_subcode
            |  FROM events),
            |dim AS (
            |  SELECT *, ${shaKeySql("state_code", "state_date", "state_nature", "state_subcode")} AS state_id
            |  FROM (SELECT DISTINCT state_code, state_date, state_nature, state_subcode FROM shape))
            |SELECT d.event_id, st.state_id
            |FROM shape d LEFT JOIN dim st
            |  ON d.state_code = st.state_code AND d.state_date = st.state_date
            |  AND d.state_nature = st.state_nature AND d.state_subcode = st.state_subcode
            |ORDER BY event_id ASC NULLS FIRST""".stripMargin))

  // — J5/J6: fact-build joins (id dim + expression-keyed date dim) ——————
  private val q12 = Probe(
    "q12_fact_build_joins",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val userDim = ev.select(col("user_id")).distinct()
        .withColumn("user_sk", SurrogateKeys.key(SurrogateKeys.Deterministic, col("user_id")))
      val dateDim = ev.select(to_date(col("ts")).as("date")).distinct()
        .withColumn("date_sk", SurrogateKeys.key(SurrogateKeys.Deterministic, col("date")))
      ev.as("e")
        .join(broadcast(userDim).as("u"), col("e.user_id") === col("u.user_id"), "left")
        .join(broadcast(dateDim).as("dt"), to_date(col("e.ts")) === col("dt.date"), "left")
        .select(col("e.event_id"), col("u.user_sk"), col("dt.date_sk"))
        .orderBy("event_id")
    },
    Some(s"""SELECT e.event_id, u.user_sk, dt.date_sk
            |FROM events e
            |LEFT JOIN (SELECT user_id, ${shaKeySql("user_id")} AS user_sk
            |           FROM (SELECT DISTINCT user_id FROM events)) u ON e.user_id = u.user_id
            |LEFT JOIN (SELECT date, ${shaKeySql("date")} AS date_sk
            |           FROM (SELECT DISTINCT CAST(ts AS DATE) AS date FROM events)) dt
            |  ON CAST(e.ts AS DATE) = dt.date
            |ORDER BY event_id ASC NULLS FIRST""".stripMargin))

  // — J7-J10: chained USING-style left joins ————————————————————————————
  private val q13 = Probe(
    "q13_using_chain",
    (s, dir) => {
      val l = t(s, dir, "lineitem").withColumnRenamed("l_orderkey", "orderkey")
      val o = t(s, dir, "orders").withColumnRenamed("o_orderkey", "orderkey")
        .withColumnRenamed("o_custkey", "custkey")
      val c = t(s, dir, "customer").withColumnRenamed("c_custkey", "custkey")
        .withColumnRenamed("c_nationkey", "nationkey")
      val n = t(s, dir, "nation").withColumnRenamed("n_nationkey", "nationkey")
        .withColumnRenamed("n_regionkey", "regionkey")
      val r = t(s, dir, "region").withColumnRenamed("r_regionkey", "regionkey")
      l.join(o, Seq("orderkey"), "left")
        .join(c, Seq("custkey"), "left")
        .join(broadcast(n), Seq("nationkey"), "left")
        .join(broadcast(r), Seq("regionkey"), "left")
        .select(col("orderkey"), col("l_linenumber"), col("o_orderstatus"),
          col("c_mktsegment"), col("n_name"), col("r_name"))
        .orderBy("orderkey", "l_linenumber")
    },
    Some("""SELECT orderkey, l_linenumber, o_orderstatus, c_mktsegment, n_name, r_name
           |FROM (SELECT l_orderkey AS orderkey, l_linenumber FROM lineitem) l
           |LEFT JOIN (SELECT o_orderkey AS orderkey, o_custkey AS custkey, o_orderstatus FROM orders) o USING (orderkey)
           |LEFT JOIN (SELECT c_custkey AS custkey, c_nationkey AS nationkey, c_mktsegment FROM customer) c USING (custkey)
           |LEFT JOIN (SELECT n_nationkey AS nationkey, n_regionkey AS regionkey, n_name FROM nation) n USING (nationkey)
           |LEFT JOIN (SELECT r_regionkey AS regionkey, r_name FROM region) r USING (regionkey)
           |ORDER BY orderkey ASC NULLS FIRST, l_linenumber ASC NULLS FIRST""".stripMargin))

  // — A2/A3: global aggregate over q09 durations ————————————————————————
  private val q14 = Probe(
    "q14_global_agg",
    (s, dir) => pivotedDf(s, dir).agg(
      graft.Canonical.round4(avg(col("delivery_duration"))).as("avg_delivery_days"),
      graft.Canonical.round4(avg(col("lifecycle_duration"))).as("avg_lifecycle_days"),
      graft.Canonical.round4(avg(col("pickup_duration"))).as("avg_pickup_days"),
      countDistinct(col("user_id")).as("total_users")),
    Some(s"""SELECT ${graft.Canonical.round4Sql("avg(delivery_duration)")} AS avg_delivery_days,
            |  ${graft.Canonical.round4Sql("avg(lifecycle_duration)")} AS avg_lifecycle_days,
            |  ${graft.Canonical.round4Sql("avg(pickup_duration)")} AS avg_pickup_days,
            |  CAST(count(DISTINCT user_id) AS BIGINT) AS total_users
            |FROM ($durationsSql)""".stripMargin))

  // — A4: min/max bounds ————————————————————————————————————————————————
  private val q15 = Probe(
    "q15_date_bounds",
    (s, dir) => t(s, dir, "events").agg(
      fmtTs(min(col("ts"))).as("min_ts"),
      fmtTs(max(col("ts"))).as("max_ts"),
      min(col("value")).as("min_value"),
      max(col("value")).as("max_value")),
    Some(s"""SELECT strftime(min(ts), '$F') AS min_ts, strftime(max(ts), '$F') AS max_ts,
            |  min(value) AS min_value, max(value) AS max_value FROM events""".stripMargin))

  // — Q16: the headline 4-KPI pipeline through the REAL Kpi module ——————
  private val q16 = Probe(
    "q16_kpi_headline",
    (s, dir) => {
      val flatShaped = t(s, dir, "events").select(
        code.as("event_code"), sub.as("event_sub_code"),
        col("ts").as("event_date"), shippingId.as("shipping_id"))
      Kpi.headline(s, flatShaped).toDF().select(
        graft.Canonical.round4(col("avg_delivery_days")).as("avg_delivery_days"),
        graft.Canonical.round4(col("avg_lifecycle_days")).as("avg_lifecycle_days"),
        graft.Canonical.round4(col("avg_pickup_days")).as("avg_pickup_days"),
        col("total_packages"))
    },
    Some(s"""WITH f AS (
            |  SELECT $shippingIdSql AS shipping_id, ts AS event_date,
            |         $codeSql AS event_code, $subSql AS event_sub_code
            |  FROM events WHERE $codeSql IN ('PEC','TRN','LIV')),
            |lab AS (
            |  SELECT *, CASE WHEN event_code = 'PEC' AND event_sub_code IN ('REL','APM') THEN 'SENT'
            |                 WHEN event_code = 'TRN' AND event_sub_code IN ('REL','APM') THEN 'DELIVERED_TO_POINT'
            |                 WHEN event_code = 'LIV' THEN 'PICKED_UP' END AS event_type
            |  FROM f),
            |piv AS (
            |  SELECT shipping_id,
            |    min(CASE WHEN event_type = 'SENT' THEN event_date END) AS sent_time,
            |    min(CASE WHEN event_type = 'DELIVERED_TO_POINT' THEN event_date END) AS delivered_time,
            |    min(CASE WHEN event_type = 'PICKED_UP' THEN event_date END) AS picked_time
            |  FROM lab GROUP BY shipping_id),
            |dur AS (
            |  SELECT shipping_id,
            |    date_diff('day', CAST(sent_time AS DATE), CAST(delivered_time AS DATE)) AS delivery_duration,
            |    date_diff('day', CAST(sent_time AS DATE), CAST(picked_time AS DATE)) AS lifecycle_duration,
            |    date_diff('day', CAST(delivered_time AS DATE), CAST(picked_time AS DATE)) AS pickup_duration
            |  FROM piv)
            |SELECT ${graft.Canonical.round4Sql("avg(delivery_duration)")} AS avg_delivery_days,
            |  ${graft.Canonical.round4Sql("avg(lifecycle_duration)")} AS avg_lifecycle_days,
            |  ${graft.Canonical.round4Sql("avg(pickup_duration)")} AS avg_pickup_days,
            |  CAST(count(DISTINCT shipping_id) AS BIGINT) AS total_packages
            |FROM dur""".stripMargin))

  // — Q-ETL: the full parcel star-schema build over synthesized JSON ————
  /** Shared DuckDB CTE chain replicating Flatten→Dims→FactBuilder. */
  private val dimsCte: String = {
    val clientKey = "concat_ws('_', brand_code_alpha, sign_code)"
    s"""flat AS ($flatSql),
       |dim_client AS (
       |  SELECT client_key, brand_code_alpha, sign_code, ${shaKeySql("client_key")} AS client_id
       |  FROM (
       |    SELECT $clientKey AS client_key, brand_code_alpha, sign_code,
       |      row_number() OVER (PARTITION BY $clientKey
       |        ORDER BY brand_code_alpha ASC NULLS FIRST, sign_code ASC NULLS FIRST) AS rn
       |    FROM flat
       |    WHERE brand_code_alpha IS NOT NULL AND sign_code IS NOT NULL)
       |  WHERE rn = 1),
       |dim_location AS (
       |  SELECT codeAgence, pays, location_type,
       |    ${shaKeySql("codeAgence", "pays", "location_type")} AS location_id
       |  FROM (SELECT DISTINCT * FROM (
       |    SELECT DISTINCT collection_codeAgence AS codeAgence, collection_pays AS pays,
       |      'collection' AS location_type FROM flat
       |    UNION ALL
       |    SELECT DISTINCT delivery_codeAgence, delivery_pays, 'delivery' FROM flat))),
       |dim_state AS (
       |  SELECT state_code, state_date, state_nature, state_subcode,
       |    ${shaKeySql("state_code", "state_date", "state_nature", "state_subcode")} AS state_id
       |  FROM (SELECT DISTINCT state_code, state_date, state_nature, state_subcode FROM flat)),
       |dim_date AS (
       |  SELECT d AS date, ${shaKeySql("d")} AS date_id
       |  FROM (SELECT DISTINCT CAST(event_date AS DATE) AS d FROM flat)),
       |shipping_joined AS (
       |  SELECT f.shipping_id, c.client_id, lc.location_id AS collection_location_id,
       |    ld.location_id AS delivery_location_id, st.state_id,
       |    f.sav_folder, f.is_replaced, f.parcel_number, f.parcel_sequence
       |  FROM flat f
       |  LEFT JOIN dim_client c ON concat_ws('_', f.brand_code_alpha, f.sign_code) = c.client_key
       |  LEFT JOIN dim_location lc ON f.collection_codeAgence = lc.codeAgence
       |    AND f.collection_pays = lc.pays AND lc.location_type = 'collection'
       |  LEFT JOIN dim_location ld ON f.delivery_codeAgence = ld.codeAgence
       |    AND f.delivery_pays = ld.pays AND ld.location_type = 'delivery'
       |  LEFT JOIN dim_state st ON f.state_code = st.state_code AND f.state_date = st.state_date
       |    AND f.state_nature = st.state_nature AND f.state_subcode = st.state_subcode),
       |dim_shipping AS (
       |  SELECT shipping_id, client_id, collection_location_id, delivery_location_id, state_id,
       |    sav_folder, is_replaced, parcel_number, parcel_sequence
       |  FROM (
       |    SELECT *, row_number() OVER (PARTITION BY shipping_id ORDER BY
       |      client_id ASC NULLS FIRST, collection_location_id ASC NULLS FIRST,
       |      delivery_location_id ASC NULLS FIRST, state_id ASC NULLS FIRST,
       |      sav_folder ASC NULLS FIRST, is_replaced ASC NULLS FIRST,
       |      parcel_number ASC NULLS FIRST, parcel_sequence ASC NULLS FIRST) AS rn
       |    FROM shipping_joined)
       |  WHERE rn = 1 AND shipping_id IS NOT NULL)""".stripMargin
  }

  private val stageDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Drop every stage [[parcelStage]] made in this JVM so far: its dir and
    * catalog table. Stages other processes made under the same root stay.
    */
  def dropStages(s: SparkSession): Unit =
    Iterator.continually(stageDirs.poll()).takeWhile(_ != null).foreach(EtlJob.dropStage(s, _))

  /** The probes' fixture — the events table synthesized as the ETL's JSON
    * payload, parsed and flattened — staged by [[EtlJob.stage]] under
    * TmpDir with the `parcel_flat_stage_` prefix and recorded for
    * [[dropStages]]. Fan out first: events.parquet is a single row-group
    * at test SFs, so the to_json synth + from_json parse would otherwise
    * run on one core. Unique per call: concurrent suites sharing the
    * session must never overwrite a stage another build is still lazily
    * reading.
    */
  private def parcelStage(s: SparkSession, dir: String): DataFrame = {
    val events = t(s, dir, "events")
    val stageDir = s"${graft.TmpDir.root}/parcel_flat_stage_${java.util.UUID.randomUUID}"
    stageDirs.add(stageDir)
    EtlJob.stage(Flatten(EventsVocab.synth(Readers.fanOut(events))), stageDir,
      events.queryExecution.optimizedPlan.stats.sizeInBytes)
  }

  private def parcelBuildAll(s: SparkSession, dir: String): EtlJob.Warehouse =
    EtlJob.buildFromFlat(parcelStage(s, dir), EtlJob.Config(inputPath = "", warehousePath = ""))

  private val q17 = Probe(
    "q17_parcel_etl_fact",
    (s, dir) => {
      val fact = parcelBuildAll(s, dir).fact
      fact.select(
        col("event_id"), col("event_code"), col("event_sub_code"),
        fmtTs(col("event_date")).as("event_date"),
        fmtTs(col("entry_date")).as("entry_date"),
        col("event_nature"), col("shipping_id"), col("date_id"))
        .orderBy("event_id", "event_code", "event_sub_code", "event_date", "entry_date",
          "event_nature", "shipping_id", "date_id")
    },
    Some({
      val eventId = shaKeySql(
        "f.event_code", "f.event_sub_code",
        s"strftime(f.event_date, '$F')", s"strftime(f.entry_date, '$F')",
        "f.event_nature", "f.shipping_id")
      s"""WITH $dimsCte
         |SELECT * FROM (
         |  SELECT $eventId AS event_id, f.event_code, f.event_sub_code,
         |    strftime(f.event_date, '$F') AS event_date, strftime(f.entry_date, '$F') AS entry_date,
         |    f.event_nature, s.shipping_id, dt.date_id
         |  FROM flat f
         |  LEFT JOIN dim_shipping s ON f.shipping_id = s.shipping_id
         |  LEFT JOIN dim_date dt ON CAST(f.event_date AS DATE) = dt.date)
         |ORDER BY event_id ASC NULLS FIRST, event_code ASC NULLS FIRST,
         |  event_sub_code ASC NULLS FIRST, event_date ASC NULLS FIRST,
         |  entry_date ASC NULLS FIRST, event_nature ASC NULLS FIRST,
         |  shipping_id ASC NULLS FIRST, date_id ASC NULLS FIRST""".stripMargin
    }))

  private val q18 = Probe(
    "q18_parcel_dimshipping",
    (s, dir) => parcelBuildAll(s, dir).dimShipping.orderBy("shipping_id"),
    Some(s"""WITH $dimsCte
            |SELECT * FROM dim_shipping ORDER BY shipping_id ASC NULLS FIRST""".stripMargin))

  // — Q-DQ: single-pass data-quality checkpoint, fixed clock ————————————
  private val q19 = Probe(
    "q19_dq_report",
    (s, dir) => {
      val clock: DqRunner.Clock = () => "2026-01-01 00:00:00"
      val checks = DqRunner.run(t(s, dir, "customer"), "Customer", clock) ++
        DqRunner.run(t(s, dir, "orders"), "Orders", clock)
      DqRunner.toDf(s, checks).toDF().orderBy("check_point", "check_name")
    },
    Some {
      def tableChecks(tbl: String, point: String, cols: Seq[String]): String = {
        val nonEmpty =
          s"""SELECT '$point' AS check_point, 'Non-empty dataframe' AS check_name,
             |  CASE WHEN count(*) > 0 THEN 'PASS' ELSE 'FAIL' END AS status,
             |  CASE WHEN count(*) > 0 THEN 'Row count: ' || count(*) ELSE 'Dataframe is empty' END AS details,
             |  '2026-01-01 00:00:00' AS "timestamp" FROM $tbl""".stripMargin
        val nulls = cols.map { c =>
          s"""SELECT '$point', 'No nulls in column ''$c''',
             |  CASE WHEN sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) = 0 THEN 'PASS' ELSE 'FAIL' END,
             |  'Null count: ' || sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END),
             |  '2026-01-01 00:00:00' FROM $tbl""".stripMargin
        }
        (nonEmpty +: nulls).mkString("\nUNION ALL\n")
      }
      tableChecks("customer", "Customer", Seq("c_custkey", "c_name", "c_nationkey")) +
        "\nUNION ALL\n" +
        tableChecks("orders", "Orders", Seq("o_orderkey", "o_custkey", "o_orderstatus")) +
        "\nORDER BY check_point ASC NULLS FIRST, check_name ASC NULLS FIRST"
    })

  // — O2-adjacent: global sort + top-k ———————————————————————————————————
  private val q20 = Probe(
    "q20_topk",
    (s, dir) => t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(50),
    Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
           |ORDER BY l_extendedprice DESC NULLS LAST, l_orderkey ASC NULLS FIRST,
           |  l_linenumber ASC NULLS FIRST
           |LIMIT 50""".stripMargin))

  // — TPC-H-Q1-ish grouped aggregate (bench headline) ————————————————————
  private val q21 = Probe(
    "q21_group_agg",
    (s, dir) => t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag", "l_linestatus"),
    Some("""SELECT l_returnflag, l_linestatus,
           |  round(CAST(sum(l_quantity) AS DOUBLE), 4) AS sum_qty,
           |  round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 4) AS revenue,
           |  round(avg(l_quantity), 4) AS avg_qty,
           |  CAST(count(*) AS BIGINT) AS n_rows
           |FROM lineitem GROUP BY l_returnflag, l_linestatus
           |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin))

  // — part/supplier coverage: broadcast dim joins + grouped rollup ———————
  private val q22 = Probe(
    "q22_part_supplier_agg",
    (s, dir) => t(s, dir, "lineitem").as("l")
      .join(broadcast(t(s, dir, "part")).as("p"), col("l.l_partkey") === col("p.p_partkey"), "left")
      .join(broadcast(t(s, dir, "supplier")).as("su"), col("l.l_suppkey") === col("su.s_suppkey"), "left")
      .groupBy(col("p.p_brand"), col("su.s_name"))
      .agg(
        round(sum(col("l.l_extendedprice") * (lit(1) - col("l.l_discount"))), 4).as("revenue"),
        count(lit(1)).as("n_rows"),
        round(max(col("p.p_retailprice")), 4).as("max_retail"))
      .orderBy("p_brand", "s_name"),
    Some("""SELECT p.p_brand, su.s_name,
           |  round(CAST(sum(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE), 4) AS revenue,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  round(CAST(max(p.p_retailprice) AS DOUBLE), 4) AS max_retail
           |FROM lineitem l
           |LEFT JOIN part p ON l.l_partkey = p.p_partkey
           |LEFT JOIN supplier su ON l.l_suppkey = su.s_suppkey
           |GROUP BY p.p_brand, su.s_name
           |ORDER BY p_brand ASC NULLS FIRST, s_name ASC NULLS FIRST""".stripMargin))

  // — skew tool: two-phase salted aggregation ≡ plain groupBy ————————————
  private val q23 = Probe(
    "q23_salted_agg",
    (s, dir) => graft.ops.Skew.saltedAggregate(
        t(s, dir, "events").select(col("user_id"), col("value")), Seq("user_id"), 8)(
        partial = Seq(sum(col("value")).as("__s"), count(lit(1)).as("__c")),
        merge = Seq(
          round(sum(col("__s")), 4).as("total_value"),
          sum(col("__c")).as("n_events")))
      .orderBy("user_id"),
    Some("""SELECT user_id, round(CAST(sum(value) AS DOUBLE), 4) AS total_value,
           |  CAST(count(*) AS BIGINT) AS n_events
           |FROM events GROUP BY user_id ORDER BY user_id ASC NULLS FIRST""".stripMargin))

  // — splittable scale ingest: JSONL with explicit schema ————————————————
  private val q24 = Probe(
    "q24_jsonl_scan",
    (s, dir) => {
      val tmp = s"${graft.TmpDir.root}/tmp/q24_jsonl_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      t(s, dir, "events").select(EventsVocab.eventJson.as("value"))
        .coalesce(4).write.mode("overwrite").text(tmp)
      val raw = s.read.schema(Schemas.eventSchema).option("timestampFormat", Schemas.TsFmt).json(tmp)
      raw.select(
          col("event_code"),
          fmtTs(col("event_date")).as("event_date"),
          col("shipping.shipping_id").as("shipping_id"),
          col("shipping.parcel_number").as("parcel_number"))
        .groupBy(col("event_code"))
        .agg(count(lit(1)).as("n"),
          min(col("event_date")).as("min_event_date"),
          countDistinct(col("shipping_id")).as("n_ships"),
          sum(col("parcel_number")).cast("long").as("sum_parcel"))
        .orderBy("event_code")
    },
    Some(s"""SELECT $codeSql AS event_code, CAST(count(*) AS BIGINT) AS n,
            |  min(strftime(ts, '$F')) AS min_event_date,
            |  CAST(count(DISTINCT $shippingIdSql) AS BIGINT) AS n_ships,
            |  CAST(sum($kSql) AS BIGINT) AS sum_parcel
            |FROM events GROUP BY 1 ORDER BY event_code ASC NULLS FIRST""".stripMargin))

  // — J7-J10/P3: the notebook's star-join enrichment through Kpi.enrich ——
  private val q25 = Probe(
    "q25_enrichment",
    (s, dir) => {
      val tb = parcelBuildAll(s, dir)
      Kpi.enrich(tb.fact, tb.dimShipping, tb.dimClient, tb.dimDate, tb.dimLocation)
        .select(
          col("event_id"), col("shipping_id"), col("client_key"),
          col("collection_country"), col("collection_agency"),
          col("event_date_dim").cast("string").as("event_date_dim"),
          col("weekday"))
        .orderBy("event_id", "shipping_id", "client_key", "collection_country",
          "collection_agency", "event_date_dim", "weekday")
    },
    Some({
      val eventId = shaKeySql(
        "f.event_code", "f.event_sub_code",
        s"strftime(f.event_date, '$F')", s"strftime(f.entry_date, '$F')",
        "f.event_nature", "f.shipping_id")
      s"""WITH $dimsCte,
         |dim_date_full AS (
         |  SELECT d AS date, CAST(dayofweek(d) + 1 AS INTEGER) AS weekday, ${shaKeySql("d")} AS date_id
         |  FROM (SELECT DISTINCT CAST(event_date AS DATE) AS d FROM flat)),
         |fact AS (
         |  SELECT $eventId AS event_id, f.event_code, f.event_sub_code, f.event_date,
         |    f.entry_date, f.event_nature, s.shipping_id, dt.date_id
         |  FROM flat f
         |  LEFT JOIN dim_shipping s ON f.shipping_id = s.shipping_id
         |  LEFT JOIN dim_date dt ON CAST(f.event_date AS DATE) = dt.date),
         |enriched AS (
         |  SELECT * FROM fact
         |  LEFT JOIN dim_shipping USING (shipping_id)
         |  LEFT JOIN dim_client USING (client_id)
         |  LEFT JOIN (SELECT date_id, date AS event_date_dim, weekday FROM dim_date_full) USING (date_id)
         |  LEFT JOIN (SELECT location_id AS collection_location_id, codeAgence AS collection_agency,
         |               pays AS collection_country FROM dim_location) USING (collection_location_id))
         |SELECT * FROM (
         |  SELECT event_id, shipping_id, client_key, collection_country, collection_agency,
         |    CAST(event_date_dim AS VARCHAR) AS event_date_dim, weekday
         |  FROM enriched)
         |ORDER BY event_id ASC NULLS FIRST, shipping_id ASC NULLS FIRST,
         |  client_key ASC NULLS FIRST, collection_country ASC NULLS FIRST,
         |  collection_agency ASC NULLS FIRST, event_date_dim ASC NULLS FIRST,
         |  weekday ASC NULLS FIRST""".stripMargin
    }))

  // — SURVEY §2.12.1: uuid-parity FK closure. The reference's uuid() keys
  //   dangle unless each dim is pinned (cached + materialized) before
  //   fan-out use; `EtlJob.buildFromFlat` pins every dim in UuidParity
  //   mode. The probe builds the star schema with uuid() keys and emits
  //   every dangling-FK count — expected 0 across the board. A broken pin
  //   would regenerate uuids per evaluation and fail this gate. ———————————
  private def danglingAgg(child: DataFrame, fk: String,
      parent: DataFrame, pk: String): DataFrame =
    child.filter(col(fk).isNotNull)
      .join(parent.select(col(pk).as("__pk")).distinct(), col(fk) === col("__pk"), "left_anti")
      .agg(count(lit(1)).as("n"))

  private val q46 = Probe(
    "q46_uuid_parity_fk",
    (s, dir) => {
      val wh = EtlJob.buildFromFlat(parcelStage(s, dir), EtlJob.Config(
        inputPath = "", warehousePath = "",
        keyMode = SurrogateKeys.UuidParity,
        clock = () => "2026-01-01 00:00:00"))
      val checks = Seq(
        "fact.date_id" -> danglingAgg(wh.fact, "date_id", wh.dimDate, "date_id"),
        "shipping.client_id" -> danglingAgg(wh.dimShipping, "client_id", wh.dimClient, "client_id"),
        "shipping.collection_location_id" ->
          danglingAgg(wh.dimShipping, "collection_location_id", wh.dimLocation, "location_id"),
        "shipping.delivery_location_id" ->
          danglingAgg(wh.dimShipping, "delivery_location_id", wh.dimLocation, "location_id"),
        "shipping.state_id" -> danglingAgg(wh.dimShipping, "state_id", wh.dimState, "state_id"))
      checks.map { case (name, df) =>
        df.select(lit(name).as("fk_name"), col("n").as("n_dangling"))
      }.reduce(_.unionByName(_)).orderBy("fk_name")
    },
    Some("""SELECT fk_name, CAST(0 AS BIGINT) AS n_dangling FROM (VALUES
           |  ('fact.date_id'), ('shipping.client_id'), ('shipping.collection_location_id'),
           |  ('shipping.delivery_location_id'), ('shipping.state_id')) t(fk_name)
           |ORDER BY fk_name ASC NULLS FIRST""".stripMargin))

  // — End-to-end warehouse round-trip THROUGH THE REAL WRITE PATH:
  //   reference-shaped CSV → EtlJob.run (multiLine parse, flatten, star
  //   build, DQ, parquet writes) → re-read the WRITTEN warehouse from disk
  //   → per-table row counts + dangling-FK counts. Counts are recomputed
  //   by DuckDB from the same synthesis; FK closure is 0 by the
  //   deterministic-key contract (SURVEY §7.5). ———————————————————————————
  private val q47 = Probe(
    "q47_warehouse_roundtrip",
    (s, dir) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val src = s"${graft.TmpDir.root}/tmp/q47_src_$tag"
      val whDir = s"${graft.TmpDir.root}/tmp/q47_wh_$tag"
      EventsVocab.synth(Readers.fanOut(t(s, dir, "events")))
        .coalesce(4).write.mode("overwrite")
        .options(Map("header" -> "true", "quote" -> "\"", "escape" -> "\""))
        .csv(src)
      // partitioned fact write: the production layout (SURVEY §4.4) —
      // event_year/event_month dirs, pruned reads asserted in ScaleSpec
      EtlJob.run(s, EtlJob.Config(src, whDir, partitionFactByMonth = true,
        clock = () => "2026-01-01 00:00:00"))
      def re(n: String) = s.read.parquet(s"$whDir/$n")
      val (dc, dl, dst, dd, dsh, f) =
        (re("DimClient"), re("DimLocation"), re("DimState"), re("DimDate"),
          re("DimShipping"), re("FactShippingEvent"))
      // (table, metric, value) tall union → pivot, so the 1-row aggregates
      // combine without 1-row cross joins (catalog-wide cartesian audit)
      def tall(tbl: String, m: String, df: DataFrame) =
        df.select(lit(tbl).as("table_name"), lit(m).as("__m"),
          col(df.columns.head).cast("long").as("__v"))
      Seq(
        tall("DimClient", "rows", dc.agg(count(lit(1)))),
        tall("DimLocation", "rows", dl.agg(count(lit(1)))),
        tall("DimState", "rows", dst.agg(count(lit(1)))),
        tall("DimDate", "rows", dd.agg(count(lit(1)))),
        tall("DimShipping", "rows", dsh.agg(count(lit(1)))),
        tall("FactShippingEvent", "rows", f.agg(count(lit(1)))),
        tall("DimShipping", "dangling", danglingAgg(dsh, "client_id", dc, "client_id")),
        tall("DimShipping", "dangling", danglingAgg(dsh, "collection_location_id", dl, "location_id")),
        tall("DimShipping", "dangling", danglingAgg(dsh, "delivery_location_id", dl, "location_id")),
        tall("DimShipping", "dangling", danglingAgg(dsh, "state_id", dst, "state_id")),
        tall("FactShippingEvent", "dangling", danglingAgg(f, "shipping_id", dsh, "shipping_id")),
        tall("FactShippingEvent", "dangling", danglingAgg(f, "date_id", dd, "date_id")))
        .reduce(_.unionByName(_))
        .groupBy(col("table_name"))
        .agg(
          sum(when(col("__m") === "rows", col("__v"))).cast("long").as("n_rows"),
          coalesce(sum(when(col("__m") === "dangling", col("__v"))), lit(0L))
            .cast("long").as("n_dangling"))
        .orderBy("table_name")
    },
    Some(s"""WITH $dimsCte
            |SELECT * FROM (
            |  SELECT 'DimClient' AS table_name,
            |    CAST((SELECT count(*) FROM dim_client) AS BIGINT) AS n_rows,
            |    CAST(0 AS BIGINT) AS n_dangling
            |  UNION ALL SELECT 'DimLocation', (SELECT count(*) FROM dim_location), 0
            |  UNION ALL SELECT 'DimState', (SELECT count(*) FROM dim_state), 0
            |  UNION ALL SELECT 'DimDate', (SELECT count(*) FROM dim_date), 0
            |  UNION ALL SELECT 'DimShipping', (SELECT count(*) FROM dim_shipping), 0
            |  UNION ALL SELECT 'FactShippingEvent', (SELECT count(*) FROM flat), 0)
            |ORDER BY table_name ASC NULLS FIRST""".stripMargin))

  val all: Seq[Probe] = Seq(
    q01, q02, q03, q04, q05, q06, q07, q08, q08b, q09, q10, q11, q12, q13,
    q14, q15, q16, q17, q18, q19, q20, q21, q22, q23, q24, q25, q46, q47)
}
