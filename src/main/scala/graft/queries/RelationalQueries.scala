package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.RelationalOps

/** The relational operator surface (SURVEY.md §2.1/§2.3) as verifiable
  * queries. Each query mirrors one reference pipeline operator or scalar
  * expression, expressed Spark-first, with a DuckDB oracle.
  *
  * Determinism rules shared with the oracles:
  *  - every query ends in a TOTAL order (ties broken by keys);
  *  - money/double aggregates go through DECIMAL(18,2) (exact, order-
  *    independent sums) and only then to DOUBLE, so both engines emit
  *    identical IEEE values;
  *  - integer sums/counts come out as BIGINT on both sides.
  */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def dec(c: Column): Column = c.cast("decimal(18,2)")
  private def money(c: Column): Column = round(sum(dec(c)).cast("double"), 2)

  /** ONE memoized-fixture-chain lifecycle shared by every chain cache
    * below: sweep entries of stopped sessions (reclaiming their temp
    * dirs), build at most once per live (session, sf-dir), and register
    * a JVM shutdown hook per build — the live session's chain dir is
    * otherwise only reclaimed when a LATER call observes the session
    * stopped, so a bench run's last chain would leak one temp dir per
    * run. Building a chain is preprocessing (Database.build territory;
    * in the Bench WARMUP list), never part of a timed query.
    */
  private def memoChain(
      cache: java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
        (String, java.io.File)],
      prefix: String, sub: String)(build: String => Unit)(
      s: SparkSession, dir: String): String = {
    val it = cache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1.sparkContext.isStopped) {
        org.apache.commons.io.FileUtils.deleteQuietly(e.getValue._2)
        it.remove()
      }
    }
    cache.computeIfAbsent((s, dir), _ => {
      val tmp = java.nio.file.Files.createTempDirectory(prefix)
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)))
      val tableDir = tmp.toString + "/" + sub
      build(tableDir)
      (tableDir, tmp.toFile)
    })._1
  }

  /** Memoized VERSIONED events chain per (session, sf-dir): events land
    * one layer per calendar day — the canonical time-ordered production
    * ingest — so every layer's `_stats` sidecar carries a disjoint date
    * envelope and a date-window query can skip all but the asked days.
    */
  private val eventChains =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      (String, java.io.File)]()
  private def memoEventsChain(s: SparkSession, dir: String): String =
    memoChain(eventChains, "graft_zonechain", "ev") { tableDir =>
      // status: a low-cardinality INT derived column — the status-code /
      // category-id group key shape — so the chain's sidecars carry
      // integer value histograms (q_group_int / q_group_intdate)
      val ev = t(s, dir, "events").withColumn("d", to_date(col("ts")))
        .withColumn("status", (col("event_id") % 7).cast("int"))
      val days = ev.select(col("d")).distinct()
        .collect().map(_.getDate(0)).sortBy(_.getTime)
      days.zipWithIndex.foreach { case (day, i) =>
        val batch = ev.filter(col("d") === lit(day))
        if (i == 0)
          graft.sources.NdjsonIngest.appendVersion(batch, tableDir, "event_id")
        else
          graft.sources.NdjsonIngest.appendDelta(batch, tableDir, "event_id")
      }
    }(s, dir)

  /** Memoized MERGE-ON-READ events chain per (session, sf-dir): six
    * 5-day snapshot/append layers, then one full-range UPSERT (every
    * event_id % 31 == 0 row gets value+1000) and one DELETE
    * (event_id % 41 == 0) — the canonical upsert-heavy production table.
    * Built once as preprocessing (Bench WARMUP), like [[memoEventsChain]].
    */
  private val mergedChains =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      (String, java.io.File)]()
  private def memoMergedChain(s: SparkSession, dir: String): String =
    memoChain(mergedChains, "graft_mergedchain", "ev") { tableDir =>
      val ev = t(s, dir, "events").withColumn("d", to_date(col("ts")))
        .select("event_id", "d", "event_type", "value")
      val days = ev.select(col("d")).distinct()
        .collect().map(_.getDate(0)).sortBy(_.getTime)
      days.grouped(5).zipWithIndex.foreach { case (bucket, i) =>
        val batch = ev.filter(col("d").isin(bucket.toIndexedSeq: _*))
        if (i == 0)
          graft.sources.NdjsonIngest.appendVersion(batch, tableDir, "event_id")
        else
          graft.sources.NdjsonIngest.appendDelta(batch, tableDir, "event_id")
      }
      graft.sources.NdjsonIngest.upsertDelta(
        ev.filter(col("event_id") % 31 === 0)
          .withColumn("value", col("value") + 1000),
        tableDir, "event_id")
      graft.sources.NdjsonIngest.deleteDelta(
        ev.filter(col("event_id") % 41 === 0).select("event_id"),
        tableDir, "event_id")
      ()
    }(s, dir)

  /** Memoized UUID-PK chain per (session, sf-dir): documents re-keyed by
    * `md5('doc-' || doc_id)` — a RANDOM (hash-distributed) string pk, the
    * production uuid shape whose per-layer lexicographic envelopes all
    * span the whole key space — committed as 30 delta layers bucketed by
    * `doc_id % 30` (so no layer is value-clustered either). Point
    * lookups over this chain can only prune per VALUE: the complete
    * string histogram at test scale, the `bl:` pk bloom past the
    * histogram cap (BloomSpec drives that regime). Preprocessing, like
    * [[memoEventsChain]] (Bench WARMUP).
    */
  private val uuidChains =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      (String, java.io.File)]()
  private def memoUuidChain(s: SparkSession, dir: String): String =
    memoChain(uuidChains, "graft_uuidchain", "du") { tableDir =>
      val docs = t(s, dir, "documents")
        .withColumn("pk",
          md5(concat(lit("doc-"), col("doc_id").cast("string"))))
        // a NON-pk uuid-shaped column: the same hash-distributed shape
        // on a column that is NOT the chain's key — per-value layer
        // metadata (complete histogram under the cap, `bl:` bloom past
        // it) is the only thing that can prune its point probes
        .withColumn("session",
          md5(concat(lit("sess-"), col("doc_id").cast("string"))))
        .select("pk", "session", "doc_id", "lang", "n_chars")
      (0 until 30).foreach { b =>
        val batch = docs.filter(col("doc_id") % 30 === b)
        if (b == 0) graft.sources.NdjsonIngest.appendVersion(batch, tableDir, "pk")
        else graft.sources.NdjsonIngest.appendDelta(batch, tableDir, "pk")
      }
    }(s, dir)

  private def md5Hex(v: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(v.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  val defs: Seq[QDef] = Seq(

    // ---- scan + project (TableScanNode / ProjectNode) ----
    QDef("q_scan_project",
      """SELECT o_orderkey, o_orderstatus, CAST(o_orderdate AS DATE) AS o_date
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderdate").cast("date").as("o_date"))
        .orderBy("o_orderkey")
    },

    // ---- filter (FilterNode; predicate pushed into the parquet scan) ----
    QDef("q_filter",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem WHERE l_returnflag = 'A' AND l_quantity < 10
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "A" && col("l_quantity") < 10)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // ---- map (MapNode: computed column) ----
    QDef("q_map",
      """SELECT l_orderkey, l_linenumber,
        |  ROUND(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |        (1 - CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE), 4) AS revenue
        |FROM lineitem WHERE l_orderkey < 100
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") < 100)
        .withColumn("revenue",
          round((dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double"), 4))
        .select("l_orderkey", "l_linenumber", "revenue")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // ---- groupBy + count (AggregateNode, hash_count_all) ----
    QDef("q_groupby_count",
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt
        |FROM lineitem GROUP BY 1, 2
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // ---- ungrouped count (CountFilterNode: count as cardinality) ----
    QDef("q_count_star",
      "SELECT count(*) AS cnt FROM lineitem WHERE l_discount >= 0.05") { (s, dir) =>
      t(s, dir, "lineitem").filter(col("l_discount") >= 0.05)
        .agg(count(lit(1)).as("cnt"))
    },

    // ---- richer aggregates (beyond the reference's count-only surface) ----
    QDef("q_agg_stats",
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price,
        |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          sum(col("l_quantity").cast("bigint")).cast("bigint").as("sum_qty"),
          money(col("l_extendedprice")).as("sum_price"),
          min("l_quantity").as("min_qty"),
          max("l_quantity").as("max_qty"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")
    },

    // ---- orderBy + limit/offset (OrderByNode + FetchNode) ----
    QDef("q_limit_offset",
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 20 OFFSET 10""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .offset(10).limit(20)
    },

    // ---- top-k (OrderByWithLimitNode → TakeOrderedAndProject) ----
    QDef("q_topk",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(15)
    },

    // ---- randomize([seed]) — deterministic shuffle via keyed hash ----
    QDef("q_randomize",
      """SELECT md5(concat_ws('_', CAST(l_orderkey AS VARCHAR),
        |                          CAST(l_linenumber AS VARCHAR), '42')) AS rk,
        |  l_orderkey, l_linenumber
        |FROM lineitem ORDER BY rk, l_orderkey, l_linenumber LIMIT 50""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .withColumn("rk",
          RelationalOps.randomizeKey(42L, col("l_orderkey"), col("l_linenumber")))
        .select("rk", "l_orderkey", "l_linenumber")
        .orderBy("rk", "l_orderkey", "l_linenumber")
        .limit(50)
    },

    // ---- join: inner, multi-way (JoinNode; dims broadcast) ----
    QDef("q_join_inner",
      """SELECT n_name,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue,
        |  count(*) AS cnt
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(money(col("l_extendedprice")).as("revenue"), count(lit(1)).as("cnt"))
        .orderBy("n_name")
    },

    // ---- join: left outer ----
    QDef("q_join_left",
      """SELECT c_custkey, count(o_orderkey) AS order_cnt
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("order_cnt"))
        .orderBy("c_custkey")
    },

    // ---- join: left semi (EXISTS) ----
    QDef("q_join_semi",
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 48)
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem").filter(col("l_quantity") >= 48)
      o.join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey")
    },

    // ---- join: left anti (NOT EXISTS) ----
    QDef("q_join_anti",
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // ---- join: full outer ----
    QDef("q_join_full",
      """SELECT COALESCE(c.k, s.k) AS nationkey, c.cust_cnt, s.supp_cnt
        |FROM (SELECT c_nationkey AS k, count(*) AS cust_cnt FROM customer GROUP BY 1) c
        |FULL JOIN (SELECT s_nationkey AS k, count(*) AS supp_cnt FROM supplier GROUP BY 1) s
        |  ON c.k = s.k
        |ORDER BY nationkey""".stripMargin) { (s, dir) =>
      val cc = t(s, dir, "customer").groupBy(col("c_nationkey").as("ck"))
        .agg(count(lit(1)).as("cust_cnt"))
      val sc = t(s, dir, "supplier").groupBy(col("s_nationkey").as("sk"))
        .agg(count(lit(1)).as("supp_cnt"))
      cc.join(sc, col("ck") === col("sk"), "full_outer")
        .select(coalesce(col("ck"), col("sk")).as("nationkey"),
          col("cust_cnt"), col("supp_cnt"))
        .orderBy("nationkey")
    },

    // ---- isNull via outer join (IsNull expression) ----
    QDef("q_is_null",
      """SELECT c_custkey, c_name
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |WHERE o_orderkey IS NULL ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .filter(col("o_orderkey").isNull)
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // ---- unionAll (UnionAllNode) ----
    QDef("q_union_all",
      """SELECT * FROM (
        |  SELECT c_custkey AS key, 'cust' AS src FROM customer
        |  UNION ALL
        |  SELECT s_suppkey AS key, 'supp' AS src FROM supplier
        |) ORDER BY src, key""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer")
        .select(col("c_custkey").as("key"), lit("cust").as("src"))
      val sp = t(s, dir, "supplier")
        .select(col("s_suppkey").as("key"), lit("supp").as("src"))
      c.union(sp).orderBy("src", "key")
    },

    // ---- distinct ----
    QDef("q_distinct",
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .select("l_returnflag", "l_linestatus").distinct()
        .orderBy("l_returnflag", "l_linestatus")
    },

    // ---- schema() pipeline-breaker (SchemaNode) ----
    QDef("q_schema",
      """SELECT * FROM (VALUES
        |  ('l_discount','FLOAT'),('l_extendedprice','FLOAT'),
        |  ('l_linenumber','INT32'),('l_linestatus','STRING'),
        |  ('l_orderkey','INT64'),('l_partkey','INT64'),
        |  ('l_quantity','FLOAT'),('l_returnflag','STRING'),
        |  ('l_shipdate','DATE32'),('l_suppkey','INT64'),('l_tax','FLOAT')
        |) AS t(field_name, field_type) ORDER BY field_name""".stripMargin) { (s, dir) =>
      RelationalOps.schemaOf(t(s, dir, "lineitem")).orderBy("field_name")
    },

    // ---- between: int (inclusive both ends) ----
    QDef("q_between_int",
      """SELECT p_partkey, p_size FROM part
        |WHERE p_size BETWEEN 10 AND 20 ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      t(s, dir, "part")
        .filter(RelationalOps.intBetween(col("p_size"), Some(10L), Some(20L)))
        .select("p_partkey", "p_size")
        .orderBy("p_partkey")
    },

    // ---- between: float (from-inclusive, to-EXCLUSIVE — reference
    //      query_documentation.md:504) ----
    QDef("q_between_float",
      """SELECT l_returnflag, count(*) AS cnt FROM lineitem
        |WHERE l_discount >= 0.03 AND l_discount < 0.06
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(RelationalOps.floatBetween(col("l_discount"), Some(0.03), Some(0.06)))
        .groupBy("l_returnflag").agg(count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")
    },

    // ---- between: date (inclusive both ends) ----
    QDef("q_between_date",
      """SELECT count(*) AS cnt,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'
        |""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderdate").cast("date")
          .between(lit("1995-01-01").cast("date"), lit("1995-12-31").cast("date")))
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("o_custkey")).cast("bigint").as("n_cust"))
    },

    // ---- in(column, {set}) ----
    QDef("q_in_set",
      """SELECT c_mktsegment, count(*) AS cnt FROM customer
        |WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE','MACHINERY')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE", "MACHINERY"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("cnt"))
        .orderBy("c_mktsegment")
    },

    // ---- like(column, pattern) — regex match, not SQL LIKE (reference
    //      string_search.cpp uses RE2 partial match) ----
    QDef("q_like_regex",
      """SELECT p_partkey, p_name FROM part
        |WHERE regexp_matches(p_name, '^(blue|cold) ')
        |ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      t(s, dir, "part")
        .filter(col("p_name").rlike("^(blue|cold) "))
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    },

    // ---- at(input, position): 1-based char; past-end → '' ----
    QDef("q_at",
      """SELECT p_partkey, substring(p_name, 3, 1) AS ch3,
        |  substring(p_brand, 20, 1) AS past_end
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"),
          RelationalOps.at(col("p_name"), 3).as("ch3"),
          RelationalOps.at(col("p_brand"), 20).as("past_end"))
        .orderBy("p_partkey")
    },

    // ---- isoWeek(input) ----
    QDef("q_isoweek",
      """SELECT CAST(weekofyear(o_orderdate) AS INTEGER) AS wk, count(*) AS cnt
        |FROM orders GROUP BY 1 ORDER BY wk""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(RelationalOps.isoWeek(col("o_orderdate")).as("wk"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("wk")
    },

    // ---- nOf(k, {children}) threshold predicate ----
    QDef("q_nof",
      """SELECT l_linestatus, count(*) AS cnt FROM lineitem
        |WHERE (CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END
        |     + CASE WHEN l_discount < 0.03 THEN 1 ELSE 0 END
        |     + CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END
        |     + CASE WHEN l_shipdate >= TIMESTAMP '1995-07-01' THEN 1 ELSE 0 END) >= 2
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(RelationalOps.nOf(2, Seq(
          col("l_quantity") > 25,
          col("l_discount") < 0.03,
          col("l_returnflag") === "N",
          col("l_shipdate") >= to_timestamp(lit("1995-07-01")))))
        .groupBy("l_linestatus").agg(count(lit(1)).as("cnt"))
        .orderBy("l_linestatus")
    },

    // ---- event-time windowed aggregation (streaming-shaped, batch-run) ----
    QDef("q_events_hour",
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hr,
        |  event_type, count(*) AS cnt,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hr, event_type""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm").as("hr"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"), money(col("value")).as("sum_value"))
        .orderBy("hr", "event_type")
    },

    // ---- cohort retention: users bucketed by first-seen day, activity
    //      counted per (cohort, day offset) — the standard event-analytics
    //      retention matrix. Scale shape: combinable min per user, an
    //      equi-join back on user_id, then a two-phase distinct count per
    //      (cohort, offset) — every exchange keyed and bounded, no
    //      windows, no pairwise joins. ----
    QDef("q_events_retention",
      """WITH d AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |c AS (SELECT user_id, min(d) AS cohort FROM d GROUP BY user_id)
        |SELECT c.cohort, CAST(date_diff('day', c.cohort, d.d) AS INTEGER) AS day_offset,
        |  CAST(count(DISTINCT d.user_id) AS INTEGER) AS active
        |FROM d JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d"))
      val cohorts = ev.groupBy("user_id").agg(min("d").as("cohort"))
      ev.join(cohorts, Seq("user_id"))
        .select(col("cohort"),
          datediff(col("d"), col("cohort")).as("day_offset"),
          col("user_id"))
        .groupBy("cohort", "day_offset")
        .agg(countDistinct("user_id").cast("int").as("active"))
        .orderBy("cohort", "day_offset")
    },

    // ---- window function: rank within partition (beyond-reference) ----
    QDef("q_window_rank",
      """SELECT c_custkey, o_orderkey, rk FROM (
        |  SELECT c_custkey, o_orderkey,
        |    CAST(row_number() OVER (PARTITION BY c_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rk
        |  FROM customer JOIN orders ON c_custkey = o_custkey)
        |WHERE rk <= 2 ORDER BY c_custkey, rk""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("c_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .withColumn("rk", row_number().over(w).cast("int"))
        .filter(col("rk") <= 2)
        .select("c_custkey", "o_orderkey", "rk")
        .orderBy("c_custkey", "rk")
    },

    // ---- rollup aggregation (beyond-reference) ----
    QDef("q_rollup",
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast("bigint")).cast("bigint").as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    },

    // ---- cube aggregation (beyond-reference; rollup's full lattice) ----
    QDef("q_cube",
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    },

    // ---- intersect / except (set ops the reference's unionAll lacks) ----
    QDef("q_intersect",
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "F").select("o_custkey")
        .intersect(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
        .orderBy("o_custkey")
    },
    QDef("q_except",
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "F").select("o_custkey")
        .except(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
        .orderBy("o_custkey")
    },

    // ---- skew-safe two-phase aggregation (RelationalOps.saltedCount):
    //      a hot key first aggregates on (key, salt) across `salts`
    //      reducers, then re-aggregates on the key — same answer as a
    //      plain groupBy (which is exactly what the oracle runs) ----
    QDef("q_salted_agg",
      """SELECT l_suppkey, count(*) AS cnt FROM lineitem
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin) { (s, dir) =>
      RelationalOps.saltedCount(t(s, dir, "lineitem"), Seq("l_suppkey"), 16)
        .select(col("l_suppkey"), col("cnt"))
        .orderBy("l_suppkey")
    },

    // ---- SaneQL front-end end-to-end: text → parse → plan → execute ----
    QDef("q_saneql_pipeline",
      """SELECT l_linestatus, count(*) AS cnt FROM lineitem
        |WHERE l_returnflag = 'A' AND l_quantity < 10
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin) { (s, dir) =>
      val catalog = graft.lang.Planner.Catalog(
        tables = Tables.names.map(n => n -> Tables.load(s, dir, n)).toMap)
      graft.lang.Planner.plan(
        """lineitem
          |  .filter(l_returnflag = 'A' && l_quantity < 10)
          |  .groupBy({cnt := count()}, {l_linestatus})
          |  .orderBy({l_linestatus})""".stripMargin, catalog)
    },

    // ---- ZONE-MAP LAYER PRUNING, measured end-to-end: a 2-day window
    //      over a 30-layer day-clustered versioned chain (built once as
    //      preprocessing, memoEventsChain). The planner's zone routing
    //      swaps the registered scan for the stats-pruned chain — 2 of 30
    //      layer footers opened — the reference's chunk-skip win
    //      (performance/README.md:37-57) at layer granularity. The
    //      routing-blind oracle filters the flat table; identical rows
    //      prove pruning is pure scan narrowing. ----
    QDef("q_zone_prune",
      """SELECT CAST(ts AS DATE) AS d, event_type, count(*) AS cnt
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-07' AND DATE '2024-01-08'
        |GROUP BY 1, 2 ORDER BY d, event_type""".stripMargin) { (s, dir) =>
      val tableDir = memoEventsChain(s, dir)
      val catalog = graft.lang.Planner.Catalog(
        tables = Map("ev" -> graft.sources.NdjsonIngest.readLatest(s, tableDir)),
        versionedDirs = Map("ev" -> tableDir))
      graft.lang.Planner.plan(
        """ev
          |  .filter(between(d, '2024-01-07'::date, '2024-01-08'::date))
          |  .groupBy({cnt := count()}, {d, event_type})
          |  .orderBy({d, event_type})""".stripMargin, catalog)
    },

    // ---- TOP-K OVER A STATS-ORDERED CHAIN: `orderBy(d desc).limit(20)`
    //      over the same 30-layer day-clustered chain — the planner's
    //      SortedScan note re-plans the limit as a stats-BOUNDED read
    //      (readChainTopK): per-layer row counts + envelopes prove the
    //      20 most-recent rows live in the newest day's layer, so 1 of
    //      30 footers opens (≙ the reference's RangeSelection early
    //      termination on a sorted column, range_selection.h:15-40). The
    //      routing-blind oracle sorts the flat table. ----
    QDef("q_topk_chain",
      """SELECT event_id, CAST(ts AS DATE) AS d, event_type FROM events
        |ORDER BY d DESC, event_id LIMIT 20""".stripMargin) { (s, dir) =>
      val tableDir = memoEventsChain(s, dir)
      val catalog = graft.lang.Planner.Catalog(
        tables = Map("ev" -> graft.sources.NdjsonIngest.readLatest(s, tableDir)),
        versionedDirs = Map("ev" -> tableDir))
      graft.lang.Planner.plan(
        """ev
          |  .orderBy({desc(d), event_id})
          |  .limit(20)
          |  .project({event_id, d, event_type})""".stripMargin, catalog)
    },

    // ---- FILTER + TOP-K COMPOSED over the chain: the most common real
    //      query shape, `table.filter(window).orderBy(key).limit(k)`. The
    //      filter's ZonePred note survives to the limit, whose rewrite
    //      bounds the read by BOTH the zone intersection (layers outside
    //      Jan 5-20 never open) and the filtered top-k accumulation (the
    //      20 most-recent in-window rows provably live in the window's
    //      newest layer): 1 of 30 footers (≙ the reference intersecting
    //      RangeSelection with other filter operators,
    //      range_selection.h:15-40 + operator.h:11-37). The routing-blind
    //      oracle filters + sorts the flat table. ----
    QDef("q_filter_topk",
      """SELECT event_id, CAST(ts AS DATE) AS d, event_type FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-20'
        |ORDER BY d DESC, event_id LIMIT 20""".stripMargin) { (s, dir) =>
      val tableDir = memoEventsChain(s, dir)
      val catalog = graft.lang.Planner.Catalog(
        tables = Map("ev" -> graft.sources.NdjsonIngest.readLatest(s, tableDir)),
        versionedDirs = Map("ev" -> tableDir))
      graft.lang.Planner.plan(
        """ev
          |  .filter(between(d, '2024-01-05'::date, '2024-01-20'::date))
          |  .orderBy({desc(d), event_id})
          |  .limit(20)
          |  .project({event_id, d, event_type})""".stripMargin, catalog)
    },

    // ---- FILTER AFTER THE SORT, before the limit: sort∘filter
    //      commutes for the limit's output, so the filter is ABSORBED
    //      into the sort note (≙ FilterPushdownPass pushing filters
    //      below sorts) and the limit still bounds the read by zone ∩
    //      top-k — 1 of 30 footers, same as the filter-first shape. ----
    QDef("q_filter_after_sort",
      """SELECT event_id, CAST(ts AS DATE) AS d, event_type FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-20'
        |ORDER BY d DESC, event_id LIMIT 20""".stripMargin) { (s, dir) =>
      val tableDir = memoEventsChain(s, dir)
      val catalog = graft.lang.Planner.Catalog(
        tables = Map("ev" -> graft.sources.NdjsonIngest.readLatest(s, tableDir)),
        versionedDirs = Map("ev" -> tableDir))
      graft.lang.Planner.plan(
        """ev
          |  .orderBy({desc(d), event_id})
          |  .filter(between(d, '2024-01-05'::date, '2024-01-20'::date))
          |  .limit(20)
          |  .project({event_id, d, event_type})""".stripMargin, catalog)
    },

    // ---- GROUPED METADATA COUNT: a single-column groupBy+count over
    //      the chain sums the layers' complete value histograms (the
    //      reference's Aggregated action over per-value bitmap
    //      cardinalities, at layer granularity) — zero parquet footers.
    //      The oracle groups the flat table for real. ----
    QDef("q_group_chain",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val tableDir = memoEventsChain(s, dir)
      val catalog = graft.lang.Planner.Catalog(
        tables = Map("ev" -> graft.sources.NdjsonIngest.readLatest(s, tableDir)),
        versionedDirs = Map("ev" -> tableDir))
      graft.lang.Planner.plan(
        "ev.groupBy({cnt := count()}, {event_type}).orderBy({event_type})",
        catalog)
    },

    // ---- TWO-COLUMN GROUPED METADATA COUNT: groupBy(day, type) over
    //      the day-clustered chain — day is CONSTANT per layer, type has
    //      a complete per-layer histogram, so every histogram entry
    //      pairs with the layer's day and the whole rollup is a metadata
    //      sum: zero parquet footers (chainGroupCountTwo). ----
    QDef("q_group_two",
      """SELECT CAST(ts AS DATE) AS d, event_type,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY d, event_type""".stripMargin) { (s, dir) =>
      val tableDir = memoEventsChain(s, dir)
      val catalog = graft.lang.Planner.Catalog(
        tables = Map("ev" -> graft.sources.NdjsonIngest.readLatest(s, tableDir)),
        versionedDirs = Map("ev" -> tableDir))
      graft.lang.Planner.plan(
        """ev
          |  .groupBy({cnt := count()}, {d, event_type})
          |  .orderBy({d, event_type})""".stripMargin, catalog)
    },

    // ---- INTEGER-COLUMN GROUPED METADATA COUNT: groupBy on a low-
    //      cardinality INT column (the status-code / category-id shape,
    //      the most common group key in event data) sums the layers'
    //      integer value histograms — tokens are doubles, the same
    //      encoding as the envelopes — zero parquet footers. ----
    QDef("q_group_int",
      """SELECT CAST(event_id % 7 AS INT) AS status,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM events GROUP BY 1 ORDER BY status""".stripMargin) { (s, dir) =>
      val tableDir = memoEventsChain(s, dir)
      val catalog = graft.lang.Planner.Catalog(
        tables = Map("ev" -> graft.sources.NdjsonIngest.readLatest(s, tableDir)),
        versionedDirs = Map("ev" -> tableDir))
      graft.lang.Planner.plan(
        "ev.groupBy({cnt := count()}, {status}).orderBy({status})", catalog)
    },

    // ---- INT × DATE TWO-COLUMN GROUPED METADATA COUNT: groupBy(day,
    //      status) over the day-clustered chain — day is CONSTANT per
    //      layer, status has a complete integer histogram, so the whole
    //      rollup is a metadata sum (chainGroupCountTwo): zero parquet
    //      footers, with a date window applying entry-wise to the
    //      constant day. ----
    QDef("q_group_intdate",
      """SELECT CAST(ts AS DATE) AS d, CAST(event_id % 7 AS INT) AS status,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-12'
        |GROUP BY 1, 2 ORDER BY d, status""".stripMargin) { (s, dir) =>
      val tableDir = memoEventsChain(s, dir)
      val catalog = graft.lang.Planner.Catalog(
        tables = Map("ev" -> graft.sources.NdjsonIngest.readLatest(s, tableDir)),
        versionedDirs = Map("ev" -> tableDir))
      graft.lang.Planner.plan(
        """ev
          |  .filter(between(d, '2024-01-05'::date, '2024-01-12'::date))
          |  .groupBy({cnt := count()}, {d, status})
          |  .orderBy({d, status})""".stripMargin, catalog)
    },

    // ---- GROUPED METADATA COUNT UNDER A WINDOW: per-day counts of a
    //      date window — the canonical time-series rollup — where the
    //      filter is ON the group column, so it applies ENTRY-WISE to
    //      each layer's date histogram: still zero footers. ----
    QDef("q_group_window",
      """SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS cnt
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-12'
        |GROUP BY 1 ORDER BY d""".stripMargin) { (s, dir) =>
      val tableDir = memoEventsChain(s, dir)
      val catalog = graft.lang.Planner.Catalog(
        tables = Map("ev" -> graft.sources.NdjsonIngest.readLatest(s, tableDir)),
        versionedDirs = Map("ev" -> tableDir))
      graft.lang.Planner.plan(
        """ev
          |  .filter(between(d, '2024-01-05'::date, '2024-01-12'::date))
          |  .groupBy({cnt := count()}, {d})
          |  .orderBy({d})""".stripMargin, catalog)
    },

    // ---- MERGE-ON-READ ZONE ROUTING, measured end-to-end: a 4-day
    //      window over an upsert+tombstone chain. chainMergeFree fails
    //      (upserts/deletes present), so plain zone pruning is off the
    //      table — but the merged router still narrows the scan: layers
    //      whose envelope excludes the window participate as PK-ONLY
    //      shadow scans (they can't SUPPLY a match but must still
    //      override older versions and carry tombstones), and only the
    //      window's layers decode their payload columns. The routing-
    //      blind oracle reconstructs the merged state arithmetically
    //      (CASE for the upsert, anti-filter for the delete) from the
    //      flat table. Cents are exact longs (round-then-cast both
    //      sides), so no float-sum nondeterminism. ----
    QDef("q_merged_zone",
      """WITH m AS (SELECT event_id, CAST(ts AS DATE) AS d, event_type,
        |    CASE WHEN event_id % 31 = 0 THEN value + 1000 ELSE value END AS value
        |  FROM events WHERE event_id % 41 <> 0)
        |SELECT d, event_type, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM m
        |WHERE d BETWEEN DATE '2024-01-07' AND DATE '2024-01-10'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val tableDir = memoMergedChain(s, dir)
      val catalog = graft.lang.Planner.Catalog(
        tables = Map("mt" ->
          graft.sources.NdjsonIngest.readLatestMerged(s, tableDir, "event_id")),
        primaryKeys = Map("mt" -> "event_id"),
        mergedVersionedDirs = Map("mt" -> tableDir))
      graft.lang.Planner.plan(
        """mt.filter(between(d, '2024-01-07'::date, '2024-01-10'::date))""",
        catalog)
        .groupBy("d", "event_type")
        .agg(count(lit(1)).cast("bigint").as("cnt"),
          sum(round(col("value") * 100).cast("long")).cast("bigint").as("cents"))
        .orderBy("d", "event_type")
    },

    // ---- MERGED TOP-K: filter + orderBy + limit over the upsert+
    //      tombstone chain. The merged note routes the limit through the
    //      shadow-loss-aware selector: a layer's qualifying-count lower
    //      bound subtracts only the younger UPSERT rows and TOMBSTONES
    //      (append layers are uniqueness-enforced — zero shadow
    //      capacity), so the 20 most-recent in-window rows provably live
    //      in the window's newest bucket + the upsert layer; every other
    //      layer degrades to a pk-only shadow scan. The routing-blind
    //      oracle reconstructs the merged state arithmetically. ----
    QDef("q_merged_topk",
      """WITH m AS (SELECT event_id, CAST(ts AS DATE) AS d, event_type,
        |    CASE WHEN event_id % 31 = 0 THEN value + 1000 ELSE value END AS value
        |  FROM events WHERE event_id % 41 <> 0)
        |SELECT event_id, d, event_type,
        |  CAST(round(value * 100) AS BIGINT) AS cents
        |FROM m
        |WHERE d BETWEEN DATE '2024-01-06' AND DATE '2024-01-15'
        |ORDER BY d DESC, event_id LIMIT 20""".stripMargin) { (s, dir) =>
      val tableDir = memoMergedChain(s, dir)
      val catalog = graft.lang.Planner.Catalog(
        tables = Map("mt" ->
          graft.sources.NdjsonIngest.readLatestMerged(s, tableDir, "event_id")),
        primaryKeys = Map("mt" -> "event_id"),
        mergedVersionedDirs = Map("mt" -> tableDir))
      graft.lang.Planner.plan(
        """mt
          |  .filter(between(d, '2024-01-06'::date, '2024-01-15'::date))
          |  .orderBy({desc(d), event_id})
          |  .limit(20)""".stripMargin, catalog)
        .select(col("event_id"), col("d"), col("event_type"),
          round(col("value") * 100).cast("bigint").as("cents"))
    },

    // ---- METADATA COUNT over the chain: ungrouped count() on the bare
    //      registered merge-free chain answers from the layers' recorded
    //      `n:` row counts — zero parquet footers, zero counting jobs
    //      (the reference's CountFilterNode metadata fast path at layer
    //      granularity). The oracle counts the flat table for real. ----
    QDef("q_count_chain",
      "SELECT count(*) AS c FROM events") { (s, dir) =>
      val tableDir = memoEventsChain(s, dir)
      val catalog = graft.lang.Planner.Catalog(
        tables = Map("ev" -> graft.sources.NdjsonIngest.readLatest(s, tableDir)),
        versionedDirs = Map("ev" -> tableDir))
      graft.lang.Planner.plan("ev.groupBy({c := count()})", catalog)
    },

    // ---- FILTERED METADATA COUNT: count() of a date window over the
    //      day-clustered chain answers from the sidecars ALONE — the
    //      window's layers are FULLY contained in the range (their date
    //      envelope sits inside it, their date ledger records zero
    //      nulls), every other layer is zone-excluded, so the exact
    //      count is a metadata sum and zero parquet footers open (the
    //      reference's CountFilterNode intersected with RangeSelection).
    //      The routing-blind oracle counts the flat table for real. ----
    QDef("q_count_window",
      """SELECT count(*) AS c FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-07' AND DATE '2024-01-08'
        |""".stripMargin) { (s, dir) =>
      val tableDir = memoEventsChain(s, dir)
      val catalog = graft.lang.Planner.Catalog(
        tables = Map("ev" -> graft.sources.NdjsonIngest.readLatest(s, tableDir)),
        versionedDirs = Map("ev" -> tableDir))
      graft.lang.Planner.plan(
        """ev
          |  .filter(between(d, '2024-01-07'::date, '2024-01-08'::date))
          |  .groupBy({c := count()})""".stripMargin, catalog)
    },

    // ---- POINT LOOKUP ON THE PRIMARY KEY: `event_id = k` routes
    //      through the pk envelopes — time-ordered appends give each
    //      layer a near-contiguous id range, so the probe opens ~1 of 30
    //      footers, and inside the surviving layer the parquet pk bloom
    //      (ParquetBloom) skips row groups. The production uuid-lookup
    //      shape at layer granularity. ----
    QDef("q_point_pk",
      """SELECT event_id, event_type, CAST(value AS DOUBLE) AS v
        |FROM events WHERE event_id = 500""".stripMargin) { (s, dir) =>
      val tableDir = memoEventsChain(s, dir)
      val catalog = graft.lang.Planner.Catalog(
        tables = Map("ev" -> graft.sources.NdjsonIngest.readLatest(s, tableDir)),
        versionedDirs = Map("ev" -> tableDir))
      graft.lang.Planner.plan(
        "ev.filter(event_id = 500).project({event_id, event_type, value})",
        catalog)
        .select(col("event_id"), col("event_type"),
          col("value").cast("double").as("v"))
    },

    // ---- GROUPED APPROX COUNT: approxGroupCount(g) answers per-group
    //      `[lo, hi]` brackets metadata-first — EXACT (lo == hi) on the
    //      merge-free chain from the complete layer value histograms
    //      (metaGroupTokens), the provable per-group shadow bracket on
    //      a bare merged chain (chainMergedGroupBracket — property-
    //      armed in BracketRoutingSpec, since grouped exactness on a
    //      merged chain is unknowable from per-column ledgers). Zero
    //      footers; the routing-blind oracle groups the flat table. ----
    QDef("q_approx_group",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS lo,
        |  CAST(count(*) AS BIGINT) AS hi FROM events
        |GROUP BY 1 ORDER BY event_type""".stripMargin) { (s, dir) =>
      val tableDir = memoEventsChain(s, dir)
      val catalog = graft.lang.Planner.Catalog(
        tables = Map("ev" -> graft.sources.NdjsonIngest.readLatest(s, tableDir)),
        versionedDirs = Map("ev" -> tableDir))
      graft.lang.Planner.plan(
        "ev.approxGroupCount(event_type).orderBy({event_type})", catalog)
    },

    // ---- UUID POINT LOOKUP: `pk = <random md5>` over a 30-layer chain
    //      whose pks are hash-distributed — every layer's lexicographic
    //      envelope spans the whole key space, so only PER-VALUE layer
    //      metadata can prune (the complete string histogram here; the
    //      `bl:` pk bloom past the histogram cap — BloomSpec). The
    //      reference answers the same shape from per-value StringInSet
    //      bitmaps regardless of key distribution (string_in_set.cpp:64,
    //      equals.cpp:143-148). The routing-blind oracle derives the
    //      same keys on the flat table. ----
    QDef("q_point_uuid",
      s"""SELECT pk, doc_id, lang FROM (
        |  SELECT md5('doc-' || CAST(doc_id AS VARCHAR)) AS pk, doc_id, lang
        |  FROM documents) WHERE pk = '${md5Hex("doc-137")}'""".stripMargin) {
      (s, dir) =>
      val tableDir = memoUuidChain(s, dir)
      val catalog = graft.lang.Planner.Catalog(
        tables = Map("du" -> graft.sources.NdjsonIngest.readLatest(s, tableDir)),
        versionedDirs = Map("du" -> tableDir))
      graft.lang.Planner.plan(
        s"du.filter(pk = '${md5Hex("doc-137")}').project({pk, doc_id, lang})",
        catalog)
    },

    // ---- UUID POINT MISS: the absent-key probe — per-value metadata
    //      excludes EVERY layer, so the plan collapses to an empty
    //      relation (zero footers, zero rows) while staying
    //      row-equivalent to the oracle's flat-table filter. ----
    QDef("q_point_uuid_miss",
      s"""SELECT pk, doc_id, lang FROM (
        |  SELECT md5('doc-' || CAST(doc_id AS VARCHAR)) AS pk, doc_id, lang
        |  FROM documents) WHERE pk = '${md5Hex("doc--1")}'""".stripMargin) {
      (s, dir) =>
      val tableDir = memoUuidChain(s, dir)
      val catalog = graft.lang.Planner.Catalog(
        tables = Map("du" -> graft.sources.NdjsonIngest.readLatest(s, tableDir)),
        versionedDirs = Map("du" -> tableDir))
      graft.lang.Planner.plan(
        s"du.filter(pk = '${md5Hex("doc--1")}').project({pk, doc_id, lang})",
        catalog)
    },

    // ---- NON-PK UUID POINT LOOKUP: the same hash-distributed point
    //      probe on a column that is NOT the chain's key — the layer
    //      envelopes all span, so only per-value metadata prunes (the
    //      complete histogram under the cap; the id-shaped EXTRA `bl:`
    //      bloom past it — BloomSpec's non-pk arm). The reference keeps
    //      per-value StringInSet bitmaps for EVERY string column, not
    //      just the key (string_in_set.cpp:64). ----
    QDef("q_point_session",
      s"""SELECT session, doc_id, lang FROM (
        |  SELECT md5('sess-' || CAST(doc_id AS VARCHAR)) AS session,
        |         doc_id, lang
        |  FROM documents) WHERE session = '${md5Hex("sess-137")}'""".stripMargin) {
      (s, dir) =>
      val tableDir = memoUuidChain(s, dir)
      val catalog = graft.lang.Planner.Catalog(
        tables = Map("du" -> graft.sources.NdjsonIngest.readLatest(s, tableDir)),
        versionedDirs = Map("du" -> tableDir))
      graft.lang.Planner.plan(
        s"du.filter(session = '${md5Hex("sess-137")}')" +
          ".project({session, doc_id, lang})",
        catalog)
    },

    // ---- APPROX COUNT BRACKET: approxCount() answers `[lo, hi]` from
    //      the sidecars alone — exact (lo == hi) on a merge-free chain
    //      (recorded layer counts), the provable shadow bracket on a
    //      merged one (chainMergedMatchBracket of the empty zone).
    //      Zero footers; the oracle counts the flat table for real. ----
    QDef("q_approx_count",
      """SELECT CAST(count(*) AS BIGINT) AS lo,
        |  CAST(count(*) AS BIGINT) AS hi FROM events""".stripMargin) {
      (s, dir) =>
      val tableDir = memoEventsChain(s, dir)
      val catalog = graft.lang.Planner.Catalog(
        tables = Map("ev" -> graft.sources.NdjsonIngest.readLatest(s, tableDir)),
        versionedDirs = Map("ev" -> tableDir))
      graft.lang.Planner.plan("ev.approxCount()", catalog)
    },

    // ---- FILTERED APPROX COUNT: approxCount() composes through a
    //      decidable filter — on the merge-free day-clustered chain the
    //      window's exact metadata count answers (lo == hi, zero
    //      footers; metaCountOf ∘ chainMatchCount); filtered MERGED
    //      chains bracket per-conjunct pass bounds minus shadow
    //      capacity (chainMergedMatchBracket — property-armed in
    //      BracketRoutingSpec), and unions sum leaf brackets. ----
    QDef("q_approx_count_filtered",
      """SELECT CAST(count(*) AS BIGINT) AS lo,
        |  CAST(count(*) AS BIGINT) AS hi FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-07' AND DATE '2024-01-12'
        |""".stripMargin) { (s, dir) =>
      val tableDir = memoEventsChain(s, dir)
      val catalog = graft.lang.Planner.Catalog(
        tables = Map("ev" -> graft.sources.NdjsonIngest.readLatest(s, tableDir)),
        versionedDirs = Map("ev" -> tableDir))
      graft.lang.Planner.plan(
        """ev
          |  .filter(between(d, '2024-01-07'::date, '2024-01-12'::date))
          |  .approxCount()""".stripMargin, catalog)
    },

    // ---- DISJUNCTIVE ZONE PRUNING: filter(a || b) prunes on the UNION
    //      of the arms' envelopes — a layer survives iff it intersects
    //      arm a OR arm b (the reference's Or operator unions bitmaps the
    //      same way, filter/operators/or.cpp). Two disjoint 2-day windows
    //      over the 30-layer chain open 4 of 30 footers. Count/top-k
    //      bounds stay off for disjunctions (pass counts don't compose);
    //      narrowing alone is proven by the routing-blind oracle. ----
    QDef("q_zone_or",
      """SELECT event_type, count(*) AS cnt FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-02' AND DATE '2024-01-03'
        |   OR CAST(ts AS DATE) BETWEEN DATE '2024-01-09' AND DATE '2024-01-10'
        |GROUP BY 1 ORDER BY event_type""".stripMargin) { (s, dir) =>
      val tableDir = memoEventsChain(s, dir)
      val catalog = graft.lang.Planner.Catalog(
        tables = Map("ev" -> graft.sources.NdjsonIngest.readLatest(s, tableDir)),
        versionedDirs = Map("ev" -> tableDir))
      graft.lang.Planner.plan(
        """ev
          |  .filter(between(d, '2024-01-02'::date, '2024-01-03'::date)
          |    || between(d, '2024-01-09'::date, '2024-01-10'::date))
          |  .groupBy({cnt := count()}, {event_type})
          |  .orderBy({event_type})""".stripMargin, catalog)
    },

    // ---- EXACT COUNT OF A DISJUNCTIVE WINDOW FILTER: count(*) under
    //      two same-column date windows answers from the sidecars ALONE
    //      — each surviving layer's envelope sits wholly inside ONE
    //      arm (pass = the date ledger), every other layer fails both
    //      arms (pass = 0), so the disjunction's per-layer pass count
    //      is exact (orGroupPassCount) and zero parquet footers open —
    //      the reference's Or unions disjoint per-value bitmaps the
    //      same way (filter/operators/or.cpp). ----
    QDef("q_or_count",
      """SELECT count(*) AS c FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-02' AND DATE '2024-01-03'
        |   OR CAST(ts AS DATE) BETWEEN DATE '2024-01-09' AND DATE '2024-01-10'
        |""".stripMargin) { (s, dir) =>
      val tableDir = memoEventsChain(s, dir)
      val catalog = graft.lang.Planner.Catalog(
        tables = Map("ev" -> graft.sources.NdjsonIngest.readLatest(s, tableDir)),
        versionedDirs = Map("ev" -> tableDir))
      graft.lang.Planner.plan(
        """ev
          |  .filter(between(d, '2024-01-02'::date, '2024-01-03'::date)
          |    || between(d, '2024-01-09'::date, '2024-01-10'::date))
          |  .groupBy({c := count()})""".stripMargin, catalog)
    },

    // ---- EXACT COUNT OF A LAYER-SPLITTING WINDOW: a single status
    //      window splits EVERY layer (each day's layer holds all 7
    //      statuses — no envelope containment exists anywhere), yet the
    //      count answers from the complete integer histograms: Σ counts
    //      of in-window values per layer (histRangeCount), zero parquet
    //      footers — per-value exactness where the envelope proof needs
    //      full containment. ----
    QDef("q_count_split",
      """SELECT count(*) AS c FROM events
        |WHERE (event_id % 7) BETWEEN 2 AND 4""".stripMargin) { (s, dir) =>
      val tableDir = memoEventsChain(s, dir)
      val catalog = graft.lang.Planner.Catalog(
        tables = Map("ev" -> graft.sources.NdjsonIngest.readLatest(s, tableDir)),
        versionedDirs = Map("ev" -> tableDir))
      graft.lang.Planner.plan(
        "ev.filter(between(status, 2, 4)).groupBy({c := count()})", catalog)
    },

    // ---- EXACT COUNT OF A LAYER-SPLITTING DISJUNCTION: two windows on
    //      the status column SPLIT every layer (each day's layer holds
    //      all 7 statuses — the envelope straddles both windows, so no
    //      arm contains it and no arm excludes it). The or-group's pass
    //      count comes from the layer's complete integer histogram —
    //      Σ counts of values passing EITHER window, pass(a)+pass(b) —
    //      exactly how the reference's Or unions per-value bitmaps
    //      (filter/operators/or.cpp). Zero parquet footers. ----
    QDef("q_or_count_split",
      """SELECT count(*) AS c FROM events
        |WHERE (event_id % 7) BETWEEN 1 AND 2
        |   OR (event_id % 7) BETWEEN 4 AND 5""".stripMargin) { (s, dir) =>
      val tableDir = memoEventsChain(s, dir)
      val catalog = graft.lang.Planner.Catalog(
        tables = Map("ev" -> graft.sources.NdjsonIngest.readLatest(s, tableDir)),
        versionedDirs = Map("ev" -> tableDir))
      graft.lang.Planner.plan(
        """ev
          |  .filter(between(status, 1, 2) || between(status, 4, 5))
          |  .groupBy({c := count()})""".stripMargin, catalog)
    },

    // ---- GROUPED COUNT UNDER A DISJUNCTION ON THE GROUP COLUMN: the
    //      two-window OR constrains only the GROUP column, so it applies
    //      ENTRY-WISE to the histogram tokens (a token survives iff it
    //      passes some window) — exactly as sound as the plain group-
    //      column range test, no whole-layer pass needed. Zero parquet
    //      footers even though every layer is split by the windows. ----
    QDef("q_group_or",
      """SELECT CAST(event_id % 7 AS INT) AS status,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM events
        |WHERE (event_id % 7) BETWEEN 1 AND 2
        |   OR (event_id % 7) BETWEEN 4 AND 5
        |GROUP BY 1 ORDER BY status""".stripMargin) { (s, dir) =>
      val tableDir = memoEventsChain(s, dir)
      val catalog = graft.lang.Planner.Catalog(
        tables = Map("ev" -> graft.sources.NdjsonIngest.readLatest(s, tableDir)),
        versionedDirs = Map("ev" -> tableDir))
      graft.lang.Planner.plan(
        """ev
          |  .filter(between(status, 1, 2) || between(status, 4, 5))
          |  .groupBy({cnt := count()}, {status})
          |  .orderBy({status})""".stripMargin, catalog)
    },

    // ---- TWO-COLUMN ROLLUP UNDER A GROUP-COLUMN DISJUNCTION: the
    //      (day × status) rollup with a two-window OR on status — day is
    //      layer-constant, status applies the or-group ENTRY-WISE to its
    //      integer histogram tokens (chainGroupCountTwo), so the whole
    //      filtered rollup stays a metadata sum. Zero parquet footers. ----
    QDef("q_group_two_or",
      """SELECT CAST(ts AS DATE) AS d, CAST(event_id % 7 AS INT) AS status,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM events
        |WHERE (event_id % 7) BETWEEN 1 AND 2
        |   OR (event_id % 7) BETWEEN 4 AND 5
        |GROUP BY 1, 2 ORDER BY d, status""".stripMargin) { (s, dir) =>
      val tableDir = memoEventsChain(s, dir)
      val catalog = graft.lang.Planner.Catalog(
        tables = Map("ev" -> graft.sources.NdjsonIngest.readLatest(s, tableDir)),
        versionedDirs = Map("ev" -> tableDir))
      graft.lang.Planner.plan(
        """ev
          |  .filter(between(status, 1, 2) || between(status, 4, 5))
          |  .groupBy({cnt := count()}, {d, status})
          |  .orderBy({d, status})""".stripMargin, catalog)
    },

    // ---- DISJUNCTIVE WINDOWS + TOP-K COMPOSED: the OR filter's note
    //      now survives to the limit, whose rewrite bounds the read by
    //      BOTH the union-of-arms zone test and the or-aware qualifying
    //      counts (orGroupPassCount): the 20 most-recent rows of two
    //      disjoint windows provably live in the newer window's newest
    //      layer — 1 of 30 footers. ----
    QDef("q_or_topk",
      """SELECT event_id, CAST(ts AS DATE) AS d, event_type FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-02' AND DATE '2024-01-03'
        |   OR CAST(ts AS DATE) BETWEEN DATE '2024-01-09' AND DATE '2024-01-10'
        |ORDER BY d DESC, event_id LIMIT 20""".stripMargin) { (s, dir) =>
      val tableDir = memoEventsChain(s, dir)
      val catalog = graft.lang.Planner.Catalog(
        tables = Map("ev" -> graft.sources.NdjsonIngest.readLatest(s, tableDir)),
        versionedDirs = Map("ev" -> tableDir))
      graft.lang.Planner.plan(
        """ev
          |  .filter(between(d, '2024-01-02'::date, '2024-01-03'::date)
          |    || between(d, '2024-01-09'::date, '2024-01-10'::date))
          |  .orderBy({desc(d), event_id})
          |  .limit(20)
          |  .project({event_id, d, event_type})""".stripMargin, catalog)
    },

    // ---- DISJUNCTIVE NARROWING ON A ROW-LEVEL READ: the same two
    //      windows feeding a row SELECT — the scan opens exactly the
    //      4 of 30 layers intersecting either arm's envelope; the
    //      routing-blind oracle filters the flat table. ----
    QDef("q_or_scan",
      """SELECT event_id, CAST(ts AS DATE) AS d, event_type FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-02' AND DATE '2024-01-03'
        |   OR CAST(ts AS DATE) BETWEEN DATE '2024-01-09' AND DATE '2024-01-10'
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val tableDir = memoEventsChain(s, dir)
      val catalog = graft.lang.Planner.Catalog(
        tables = Map("ev" -> graft.sources.NdjsonIngest.readLatest(s, tableDir)),
        versionedDirs = Map("ev" -> tableDir))
      graft.lang.Planner.plan(
        """ev
          |  .filter(between(d, '2024-01-02'::date, '2024-01-03'::date)
          |    || between(d, '2024-01-09'::date, '2024-01-10'::date))
          |  .project({event_id, d, event_type})
          |  .orderBy({event_id})""".stripMargin, catalog)
    },

    // ---- FILTER PUSHES THROUGH UNIONALL: a unioned pair of registered
    //      chains zone-prunes EACH side (the reference pushes filters
    //      into both union inputs, filter_pushdown_pass.h:22-49) — the
    //      2-day window opens 2 of 30 layer footers per side instead of
    //      disabling routing at the union. ----
    QDef("q_union_zone",
      """WITH u AS (SELECT * FROM events UNION ALL SELECT * FROM events)
        |SELECT event_type, count(*) AS cnt FROM u
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-07' AND DATE '2024-01-08'
        |GROUP BY 1 ORDER BY event_type""".stripMargin) { (s, dir) =>
      val tableDir = memoEventsChain(s, dir)
      val frame = graft.sources.NdjsonIngest.readLatest(s, tableDir)
      val catalog = graft.lang.Planner.Catalog(
        tables = Map("ev1" -> frame, "ev2" -> frame),
        versionedDirs = Map("ev1" -> tableDir, "ev2" -> tableDir))
      graft.lang.Planner.plan(
        """ev1
          |  .unionAll(ev2)
          |  .filter(between(d, '2024-01-07'::date, '2024-01-08'::date))
          |  .groupBy({cnt := count()}, {event_type})
          |  .orderBy({event_type})""".stripMargin, catalog)
    },

    // ---- TOP-K THROUGH UNIONALL: filter + orderBy + limit over a
    //      unioned pair of registered chains bounds EACH side's read
    //      (the union's top-k is always within the union of the
    //      children's top-k) — 1 of 30 footers per side, then a merge
    //      sort + cut of the two bounded frames. ----
    QDef("q_union_topk",
      """WITH u AS (SELECT * FROM events UNION ALL SELECT * FROM events)
        |SELECT event_id, CAST(ts AS DATE) AS d, event_type FROM u
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-20'
        |ORDER BY d DESC, event_id LIMIT 20""".stripMargin) { (s, dir) =>
      val tableDir = memoEventsChain(s, dir)
      val frame = graft.sources.NdjsonIngest.readLatest(s, tableDir)
      val catalog = graft.lang.Planner.Catalog(
        tables = Map("ev1" -> frame, "ev2" -> frame),
        versionedDirs = Map("ev1" -> tableDir, "ev2" -> tableDir))
      graft.lang.Planner.plan(
        """ev1
          |  .unionAll(ev2)
          |  .filter(between(d, '2024-01-05'::date, '2024-01-20'::date))
          |  .orderBy({desc(d), event_id})
          |  .limit(20)
          |  .project({event_id, d, event_type})""".stripMargin, catalog)
    },

    // ---- TOP-K THROUGH A NESTED UNION: unionAll(unionAll(a, b), c) —
    //      the sorted-union note flattens the union TREE into its leaves
    //      (union is associative), so a 3-table filter+orderBy+limit
    //      bounds EVERY leaf's read — 1 of 30 footers per leaf — exactly
    //      like the binary case, the same uniform push into union
    //      children the reference's FilterPushdownPass does
    //      (filter_pushdown_pass.h:22-49). ----
    QDef("q_union3_topk",
      """WITH u AS (SELECT * FROM events UNION ALL SELECT * FROM events
        |           UNION ALL SELECT * FROM events)
        |SELECT event_id, CAST(ts AS DATE) AS d, event_type FROM u
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-20'
        |ORDER BY d DESC, event_id LIMIT 20""".stripMargin) { (s, dir) =>
      val tableDir = memoEventsChain(s, dir)
      val frame = graft.sources.NdjsonIngest.readLatest(s, tableDir)
      val catalog = graft.lang.Planner.Catalog(
        tables = Map("ev1" -> frame, "ev2" -> frame, "ev3" -> frame),
        versionedDirs = Map("ev1" -> tableDir, "ev2" -> tableDir,
          "ev3" -> tableDir))
      graft.lang.Planner.plan(
        """ev1
          |  .unionAll(ev2)
          |  .unionAll(ev3)
          |  .filter(between(d, '2024-01-05'::date, '2024-01-20'::date))
          |  .orderBy({desc(d), event_id})
          |  .limit(20)
          |  .project({event_id, d, event_type})""".stripMargin, catalog)
    },

    // ---- METADATA COUNT THROUGH UNIONALL: the filtered count of a
    //      unioned pair of registered chains sums the CHILDREN's exact
    //      sidecar counts — zero parquet footers on either side. ----
    QDef("q_union_count",
      """WITH u AS (SELECT * FROM events UNION ALL SELECT * FROM events)
        |SELECT count(*) AS c FROM u
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-12'
        |""".stripMargin) { (s, dir) =>
      val tableDir = memoEventsChain(s, dir)
      val frame = graft.sources.NdjsonIngest.readLatest(s, tableDir)
      val catalog = graft.lang.Planner.Catalog(
        tables = Map("ev1" -> frame, "ev2" -> frame),
        versionedDirs = Map("ev1" -> tableDir, "ev2" -> tableDir))
      graft.lang.Planner.plan(
        """ev1
          |  .unionAll(ev2)
          |  .filter(between(d, '2024-01-05'::date, '2024-01-12'::date))
          |  .groupBy({c := count()})""".stripMargin, catalog)
    },

    // ---- STACKED FILTERS COMPOSE THE METADATA NOTES: two separate
    //      .filter() stages (the reference folds every filter into the
    //      scan regardless of interleaving, filter_pushdown_pass.h:22-49)
    //      intersect their windows in the ZonePred note, so the filtered
    //      count still answers from the sidecars alone — zero parquet
    //      footers — exactly like the single-filter q_count_window. ----
    QDef("q_filter_chain",
      """SELECT count(*) AS c FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-20'
        |  AND CAST(ts AS DATE) BETWEEN DATE '2024-01-07' AND DATE '2024-01-08'
        |""".stripMargin) { (s, dir) =>
      val tableDir = memoEventsChain(s, dir)
      val catalog = graft.lang.Planner.Catalog(
        tables = Map("ev" -> graft.sources.NdjsonIngest.readLatest(s, tableDir)),
        versionedDirs = Map("ev" -> tableDir))
      graft.lang.Planner.plan(
        """ev
          |  .filter(between(d, '2024-01-05'::date, '2024-01-20'::date))
          |  .filter(between(d, '2024-01-07'::date, '2024-01-08'::date))
          |  .groupBy({c := count()})""".stripMargin, catalog)
    },

    // ---- MAP BEFORE FILTER KEEPS THE NOTES: a column-adding map rides
    //      the bare-scan note, the following filter extends it with its
    //      decidable window, and the orderBy+limit still bounds the read
    //      to 1 of 30 footers — the map's expression replays after the
    //      narrowed scan. The routing-blind oracle computes the same
    //      derived column on the flat table. ----
    QDef("q_map_filter",
      """SELECT event_id, CAST(weekofyear(ts) AS INTEGER) AS wk,
        |  CAST(ts AS DATE) AS d, event_type FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-20'
        |ORDER BY d DESC, event_id LIMIT 20""".stripMargin) { (s, dir) =>
      val tableDir = memoEventsChain(s, dir)
      val catalog = graft.lang.Planner.Catalog(
        tables = Map("ev" -> graft.sources.NdjsonIngest.readLatest(s, tableDir)),
        versionedDirs = Map("ev" -> tableDir))
      graft.lang.Planner.plan(
        """ev
          |  .map({wk := isoWeek(d)})
          |  .filter(between(d, '2024-01-05'::date, '2024-01-20'::date))
          |  .orderBy({desc(d), event_id})
          |  .limit(20)
          |  .project({event_id, wk, d, event_type})""".stripMargin, catalog)
    },

    // ---- gap-based sessionization (streaming-shaped, batch-run) ----
    QDef("q_events_sessions",
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |g AS (SELECT user_id, us,
        |  CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
        |         OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
        |       THEN 1 ELSE 0 END AS new_s,
        |  event_id FROM e),
        |s AS (SELECT user_id, us,
        |  CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_id FROM g)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  CAST(max(us) - min(us) AS BIGINT) AS duration_us
        |FROM s GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val cum = Window.partitionBy("user_id").orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
      t(s, dir, "events")
        .withColumn("us", expr("unix_micros(ts)"))
        .withColumn("prev", lag(col("us"), 1).over(w))
        .withColumn("new_s",
          when(col("prev").isNull || col("us") - col("prev") > 1800000000L, 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("new_s")).over(cum).cast("int"))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          (max(col("us")) - min(col("us"))).cast("bigint").as("duration_us"))
        .orderBy("user_id", "session_id")
    },

    // ---- as-of join (beyond-reference): each purchase event attached to
    //      the user's most recent click at-or-before it. Spark side is the
    //      union + running-max formulation (RelationalOps.asofJoin — ONE
    //      shuffle, no inequality join); the oracle recomputes it naively
    //      with a range join + argmax. Timestamps travel as epoch micros so
    //      both engines hash identical integers. ----
    QDef("q_asof_join",
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
        |l AS (SELECT event_id, user_id, us FROM e WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, us, max(event_id) AS pay FROM e
        |  WHERE event_type = 'click' GROUP BY 1, 2),
        |j AS (SELECT l.event_id, l.user_id, l.us, max(r.us) AS asof_ts
        |  FROM l LEFT JOIN r ON r.user_id = l.user_id AND r.us <= l.us
        |  GROUP BY 1, 2, 3)
        |SELECT j.event_id, j.user_id, j.us, j.asof_ts,
        |  r2.pay AS asof_event_id
        |FROM j LEFT JOIN r r2 ON r2.user_id = j.user_id AND r2.us = j.asof_ts
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "events")
        .withColumn("us", expr("unix_micros(ts)"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "us")
      val clicks = e.filter(col("event_type") === "click")
        .select("user_id", "us", "event_id")
      RelationalOps.asofJoin(
        purchases, "user_id", "us", clicks, "user_id", "us", "event_id")
        .orderBy("event_id")
    },

    // ---- exact distributed group quantiles (beyond-reference): explicit
    //      rank selection (value at row ceil(q·n) of the per-group sort) —
    //      deterministic element pick, no interpolation arithmetic that
    //      could drift an ulp between engines. One shuffle (the per-group
    //      window sort); at 100 TB the same query shape runs over
    //      approx_percentile instead — this is the exact gate. ----
    QDef("q_quantiles",
      """WITH r AS (SELECT l_returnflag, l_quantity,
        |  row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
        |  count(*) OVER (PARTITION BY l_returnflag) AS n FROM lineitem)
        |SELECT l_returnflag,
        |  max(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT) THEN l_quantity END) AS p25,
        |  max(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT) THEN l_quantity END) AS p50,
        |  max(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT) THEN l_quantity END) AS p75,
        |  max(CASE WHEN rn = n THEN l_quantity END) AS p100
        |FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("l_returnflag")
        .orderBy("l_quantity", "l_orderkey", "l_linenumber")
      val wn = Window.partitionBy("l_returnflag")
      val r = t(s, dir, "lineitem")
        .select("l_returnflag", "l_quantity", "l_orderkey", "l_linenumber")
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wn))
      def pick(q: Double, name: String) =
        max(when(col("rn") === ceil(lit(q) * col("n")).cast("bigint"),
          col("l_quantity"))).as(name)
      r.groupBy("l_returnflag")
        .agg(pick(0.25, "p25"), pick(0.50, "p50"), pick(0.75, "p75"),
          max(when(col("rn") === col("n"), col("l_quantity"))).as("p100"))
        .orderBy("l_returnflag")
    },

    // ---- semi-structured extraction from the events props JSON ----
    QDef("q_events_json",
      """SELECT user_id,
        |  CAST(SUM(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS k_sum,
        |  count(*) AS cnt
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .withColumn("k", regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("bigint"))
        .groupBy("user_id")
        .agg(sum(col("k")).cast("bigint").as("k_sum"), count(lit(1)).as("cnt"))
        .orderBy("user_id")
    },

    // ---- sketch-based distinct counting, gated like q_ann_recall: the
    //      oracle fixes the EXACT distinct counts and expects
    //      within_5pct=true, so a drifting HLL++ implementation breaks
    //      the hash. approx_count_distinct is the 100 TB path — a
    //      fixed-size sketch mergeable map-side, vs exact distinct's
    //      full shuffle of every key; the exact column here is the
    //      sf-sized audit, not the production plan. ----
    QDef("q_approx_distinct",
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  true AS within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) =>
        t(s, dir, "events")
          .groupBy("event_type")
          .agg(countDistinct("user_id").as("exact_users"),
            approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
          .select(col("event_type"), col("exact_users"),
            (abs(col("approx_users") - col("exact_users")) <=
              col("exact_users") * 0.05).as("within_5pct"))
          .orderBy("event_type")
    },

    // ---- z-order (Morton) keys for 2-D data clustering: interleave the
    //      low 16 bits of (user_id, event_id) with the mask-shift
    //      spreading ladder — plain arithmetic, whole-stage codegen, and
    //      bit-for-bit reproducible in the oracle. Sorting a 100 TB
    //      events table by this key gives every parquet file a tight
    //      min/max envelope on BOTH dimensions, so filters on either
    //      prune at the scan (ZOrderSpec asserts the file-locality).
    //      The per-tile rollup here pins the key computation itself. ----
    QDef("q_zorder",
      """WITH d AS (SELECT user_id % 65536 AS a, event_id % 65536 AS b FROM events),
        |s1 AS (SELECT (a | (a << 8)) & 16711935 AS a,
        |              (b | (b << 8)) & 16711935 AS b FROM d),
        |s2 AS (SELECT (a | (a << 4)) & 252645135 AS a,
        |              (b | (b << 4)) & 252645135 AS b FROM s1),
        |s3 AS (SELECT (a | (a << 2)) & 858993459 AS a,
        |              (b | (b << 2)) & 858993459 AS b FROM s2),
        |s4 AS (SELECT (a | (a << 1)) & 1431655765 AS a,
        |              (b | (b << 1)) & 1431655765 AS b FROM s3),
        |zt AS (SELECT (a << 1) | b AS z FROM s4)
        |SELECT CAST(z >> 22 AS INTEGER) AS tile,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(min(z) AS BIGINT) AS zmin,
        |  CAST(max(z) AS BIGINT) AS zmax
        |FROM zt GROUP BY tile ORDER BY tile""".stripMargin) { (s, dir) =>
      import graft.operators.ZOrder
      t(s, dir, "events")
        .select(ZOrder.zValue(col("user_id"), col("event_id")).as("z"))
        .groupBy(shiftrightunsigned(col("z"), 22).cast("int").as("tile"))
        .agg(count(lit(1)).as("cnt"),
          min("z").as("zmin"), max("z").as("zmax"))
        .orderBy("tile")
    },

    // ---- salted skew join (RelationalOps.saltedJoin): lineitem's
    //      3-value l_returnflag is the worst-case skewed key — a plain
    //      shuffle join lands a third of the table on one reducer. The
    //      salted form joins on (key, salt-in-[0,8)) with the dim
    //      replicated 8×, spreading each hot key over 8 reducers. Same
    //      answer as the oracle's plain join — salting is correctness-
    //      neutral by construction. ----
    QDef("q_salted_join",
      """WITH dim(flag, label) AS (VALUES ('A', 'returned'), ('N', 'kept'), ('R', 'refunded')),
        |j AS (SELECT d.label, l.l_quantity FROM lineitem l
        |  JOIN dim d ON l.l_returnflag = d.flag)
        |SELECT label, count(*) AS cnt,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM j GROUP BY label ORDER BY label""".stripMargin) { (s, dir) =>
      val spark = s
      import spark.implicits._
      val dim = Seq(("A", "returned"), ("N", "kept"), ("R", "refunded"))
        .toDF("l_returnflag", "label")
      RelationalOps.saltedJoin(
        t(s, dir, "lineitem"), dim, "l_returnflag",
        salts = 8, rowHash = xxhash64(col("l_orderkey"), col("l_linenumber")))
        .groupBy("label")
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast("bigint")).cast("bigint").as("sum_qty"))
        .orderBy("label")
    },

    // ---- interval join as an equi-join (RelationalOps.rangeJoinBinned):
    //      prices bucketed into NON-uniform quadratic bands [i²·500, (i+1)²·500)
    //      dollars — an arbitrary-interval lookup a fixed-divisor floor()
    //      can't express. The naive `lo <= p < hi` join is a nested loop;
    //      binned, each band explodes into its ≤20 overlapped $1000 bins
    //      and the join is `bin = bin` + residual filter. Prices travel as
    //      exact DECIMAL cents so both engines bin identical integers. ----
    QDef("q_range_join",
      """WITH bands AS (SELECT CAST(i AS INTEGER) AS band, i*i*50000 AS lo,
        |    (i+1)*(i+1)*50000 AS hi FROM range(0, 20) t(i)),
        |p AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    l_quantity FROM lineitem),
        |j AS (SELECT b.band, b.lo, b.hi, p.l_quantity FROM p
        |  JOIN bands b ON p.cents >= b.lo AND p.cents < b.hi)
        |SELECT band, CAST(lo AS BIGINT) AS lo, CAST(hi AS BIGINT) AS hi,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM j GROUP BY 1, 2, 3 ORDER BY band""".stripMargin) { (s, dir) =>
      val spark = s
      import spark.implicits._
      val bands = (0 until 20).map(i =>
        (i, i.toLong * i * 50000, (i + 1).toLong * (i + 1) * 50000))
        .toDF("band", "lo", "hi")
      val points = t(s, dir, "lineitem")
        .select((dec(col("l_extendedprice")) * 100).cast("bigint").as("cents"),
          col("l_quantity"))
      RelationalOps.rangeJoinBinned(points, "cents", bands, "lo", "hi",
        binWidth = 100000L)
        .groupBy("band", "lo", "hi")
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast("bigint")).cast("bigint").as("sum_qty"))
        .orderBy("band")
    },

    // ---- approximate group quantiles, gated like q_approx_distinct: the
    //      sketch (approx_percentile — a fixed-size mergeable
    //      Greenwald-Khanna summary, the 100 TB path next to q_quantiles'
    //      exact rank pick) must land within ±5 percentile RANKS of its
    //      target. Rank-based gating is distribution-free: the oracle pins
    //      the exact group sizes and `true` flags, so sketch drift beyond
    //      the band breaks the hash without exposing the approximate
    //      VALUES (which no oracle could recompute) to the comparison. ----
    QDef("q_approx_quantiles",
      """SELECT event_type, count(*) AS n, true AS p50_ok, true AS p95_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events").select("event_type", "value")
      val approx = ev.groupBy("event_type")
        .agg(percentile_approx(col("value"), lit(0.5), lit(1000)).as("a50"),
          percentile_approx(col("value"), lit(0.95), lit(1000)).as("a95"))
      ev.join(broadcast(approx), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") <= col("a50"), 1L).otherwise(0L)).as("le50"),
          sum(when(col("value") <= col("a95"), 1L).otherwise(0L)).as("le95"))
        .select(col("event_type"), col("n"),
          (col("le50") >= col("n") * 0.45 && col("le50") <= col("n") * 0.55)
            .as("p50_ok"),
          (col("le95") >= col("n") * 0.93 && col("le95") <= col("n") * 0.97)
            .as("p95_ok"))
        .orderBy("event_type")
    },

    // ---- window FRAMES (the analytic family beyond rank): a 3-row
    //      moving sum (ROWS frame) and a trailing-7-day sum (RANGE frame
    //      over integer epoch days, where ties are peers — both engines
    //      define peer inclusion identically). Money as exact DECIMAL
    //      cents; one shuffle (the per-customer window sort) serves both
    //      frames. ----
    QDef("q_window_moving",
      """WITH o AS (SELECT o_custkey, o_orderkey,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders)
        |SELECT o_custkey, o_orderkey,
        |  CAST(sum(cents) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS moving3_cents,
        |  CAST(sum(cents) OVER (PARTITION BY o_custkey ORDER BY d
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS trail7d_cents
        |FROM o ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val o = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
            .cast("bigint").as("d"),
          (dec(col("o_totalprice")) * 100).cast("bigint").as("cents"))
      val wRows = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
        .rowsBetween(-2, 0)
      val wRange = Window.partitionBy("o_custkey").orderBy("d")
        .rangeBetween(-6, 0)
      o.select(col("o_custkey"), col("o_orderkey"),
          sum("cents").over(wRows).cast("bigint").as("moving3_cents"),
          sum("cents").over(wRange).cast("bigint").as("trail7d_cents"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // ---- arbitrary GROUPING SETS (the general form rollup/cube are
    //      special cases of): per-flag totals + per-status totals + the
    //      grand total in ONE pass — Spark expands the sets into a single
    //      Expand + hash aggregate, not three scans ----
    QDef("q_grouping_sets",
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) {
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupingSets(
            Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
            col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("l_quantity").cast("bigint")).cast("bigint").as("sum_qty"))
          .orderBy(col("l_returnflag").asc_nulls_first,
            col("l_linestatus").asc_nulls_first)
    },

    // ---- pivot (long → wide): per-cohort event-type counts as columns.
    //      The value list is EXPLICIT — an unpinned pivot would collect
    //      distinct values first (an extra job) and make the output schema
    //      data-dependent, which breaks both at 100 TB and under an
    //      oracle. ----
    QDef("q_pivot",
      """SELECT CAST(user_id % 10 AS BIGINT) AS cohort,
        |  CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
        |  CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
        |  CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
        |  CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
        |  CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
        |FROM events GROUP BY 1 ORDER BY cohort""".stripMargin) { (s, dir) =>
      val types = Seq("click", "error", "purchase", "signup", "view")
      t(s, dir, "events")
        .groupBy((col("user_id") % 10).cast("bigint").as("cohort"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .select(col("cohort") +:
          types.map(ty => coalesce(col(ty), lit(0L)).cast("bigint").as(ty)): _*)
        .orderBy("cohort")
    },

    // ---- conversion funnel (event-pipeline staple): per cohort, users
    //      whose FIRST view precedes their first click precedes their
    //      first purchase. One groupBy collapses each user to 3 firsts
    //      (map-side combinable mins), then a cohort rollup — never a
    //      self-join of the events table. ----
    QDef("q_events_funnel",
      """WITH f AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v,
        |    min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS c,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p
        |  FROM events GROUP BY user_id)
        |SELECT CAST(user_id % 10 AS BIGINT) AS cohort, count(*) AS n_users,
        |  CAST(count(CASE WHEN v IS NOT NULL THEN 1 END) AS BIGINT) AS viewed,
        |  CAST(count(CASE WHEN c > v THEN 1 END) AS BIGINT) AS clicked_after,
        |  CAST(count(CASE WHEN c > v AND p > c THEN 1 END) AS BIGINT) AS purchased_after
        |FROM f GROUP BY 1 ORDER BY cohort""".stripMargin) { (s, dir) =>
      val firsts = t(s, dir, "events")
        .withColumn("us", expr("unix_micros(ts)"))
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "view", col("us"))).as("v"),
          min(when(col("event_type") === "click", col("us"))).as("c"),
          min(when(col("event_type") === "purchase", col("us"))).as("p"))
      firsts
        .groupBy((col("user_id") % 10).cast("bigint").as("cohort"))
        .agg(count(lit(1)).as("n_users"),
          count(when(col("v").isNotNull, 1)).cast("bigint").as("viewed"),
          count(when(col("c") > col("v"), 1)).cast("bigint").as("clicked_after"),
          count(when(col("c") > col("v") && col("p") > col("c"), 1)).cast("bigint")
            .as("purchased_after"))
        .orderBy("cohort")
    },

    // ---- statistical anomaly detection (2-sigma outliers per group) ----
    // Per event type, flag events more than 2 standard deviations from the
    // group mean — entirely in BIGINT cents so both engines agree
    // bit-for-bit: (x − μ)² > 4σ² is cross-multiplied by n² into
    // (n·x − S)² > 4(n·SS − S²) with S = Σx, SS = Σx² (no division, no
    // sqrt, no double accumulation anywhere). floor() before the cast —
    // DuckDB CAST rounds where Spark truncates. Two passes: one
    // combinable aggregate per group, then a broadcast join back and a
    // second combinable rollup — no window over the fact table. Magnitude
    // check: n ≈ 2·10⁴ per group and x ≤ 5.7·10⁴ cents keep every product
    // under 2⁶³ at sf0.1; the 100 TB variant scales x to whole units (or
    // DECIMAL(38)) before squaring.
    QDef("q_events_anomaly",
      """WITH e AS (SELECT event_type,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS x FROM events),
        |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS s, CAST(SUM(x * x) AS BIGINT) AS ss
        |  FROM e GROUP BY event_type)
        |SELECT e.event_type, max(st.n) AS n_events,
        |  CAST(count(CASE WHEN (st.n * e.x - st.s) * (st.n * e.x - st.s) >
        |    4 * (st.n * st.ss - st.s * st.s) THEN 1 END) AS BIGINT) AS outliers
        |FROM e JOIN st ON st.event_type = e.event_type
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "events")
        .select(col("event_type"),
          floor(col("value") * 100).cast("bigint").as("x"))
      val st = e.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(col("x")).cast("bigint").as("sv"),
        sum(col("x") * col("x")).cast("bigint").as("ssv"))
      val d = col("n") * col("x") - col("sv")
      e.join(broadcast(st), "event_type")
        .groupBy("event_type")
        .agg(max(col("n")).as("n_events"),
          count(when(d * d > lit(4) * (col("n") * col("ssv") - col("sv") * col("sv")),
            1)).cast("bigint").as("outliers"))
        .orderBy("event_type")
    },

    // ---- WINSORIZATION (robust data cleaning): clip each event's value
    //      to its type's exact-rank [p05, p95] window before aggregating —
    //      the standard outlier-robust preprocessing for reward/metric
    //      columns. Everything stays BIGINT cents: rank picks are the
    //      deterministic ceil(q·n) row (the q_quantiles discipline), the
    //      clip is least/greatest, and the output carries the clipped sum
    //      so a single mis-clipped row breaks the hash. One window sort
    //      per type + a broadcast threshold join. ----
    QDef("q_winsorize",
      """WITH e AS (SELECT event_id, event_type,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS x FROM events),
        |r AS (SELECT event_type, x,
        |    row_number() OVER (PARTITION BY event_type ORDER BY x, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM e),
        |th AS (SELECT event_type,
        |    max(CASE WHEN rn = CAST(ceil(0.05 * n) AS BIGINT) THEN x END) AS p05,
        |    max(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT) THEN x END) AS p95,
        |    max(n) AS n FROM r GROUP BY event_type)
        |SELECT e.event_type, max(th.n) AS n_events, max(th.p05) AS p05_cents,
        |  max(th.p95) AS p95_cents,
        |  CAST(sum(least(greatest(e.x, th.p05), th.p95)) AS BIGINT)
        |    AS winsorized_sum_cents,
        |  CAST(count(CASE WHEN e.x < th.p05 OR e.x > th.p95 THEN 1 END)
        |    AS BIGINT) AS n_clipped
        |FROM e JOIN th ON th.event_type = e.event_type
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          floor(col("value") * 100).cast("bigint").as("x"))
      val w = Window.partitionBy("event_type").orderBy("x", "event_id")
      val wn = Window.partitionBy("event_type")
      val r = e
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wn))
      def pick(q: Double, name: String) =
        max(when(col("rn") === ceil(lit(q) * col("n")).cast("bigint"),
          col("x"))).as(name)
      val th = r.groupBy("event_type")
        .agg(pick(0.05, "p05"), pick(0.95, "p95"), max(col("n")).as("n"))
      e.join(broadcast(th), "event_type")
        .groupBy("event_type")
        .agg(max(col("n")).as("n_events"),
          max(col("p05")).as("p05_cents"),
          max(col("p95")).as("p95_cents"),
          sum(least(greatest(col("x"), col("p05")), col("p95")))
            .cast("bigint").as("winsorized_sum_cents"),
          count(when(col("x") < col("p05") || col("x") > col("p95"), 1))
            .cast("bigint").as("n_clipped"))
        .orderBy("event_type")
    },

    // ---- merge-on-read resolution (row-level upsert/delete algebra) ----
    // The read-side algebra behind NdjsonIngest.readLatestMerged, run on a
    // synthetic 3-layer history derived deterministically from `documents`:
    // layer 0 = the base table, layer 1 = an upsert batch re-scoring every
    // doc_id % 7 == 0 row (n_chars doubled), layer 2 = tombstones for
    // doc_id % 13 == 0. Per-key latest wins via ONE map-side-combinable
    // max_by over the layer ordinal — no window sort, no join cascade —
    // then a per-source rollup. The oracle replays the same history as
    // CASE arithmetic, so the resolution must be value-exact.
    QDef("q_merge_resolve",
      """SELECT source, count(*) AS live_docs,
        |  CAST(SUM(CASE WHEN doc_id % 7 = 0 THEN 2 * n_chars
        |                ELSE n_chars END) AS BIGINT) AS chars
        |FROM documents WHERE doc_id % 13 <> 0
        |GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val base = t(s, dir, "documents").select("doc_id", "source", "n_chars")
        .withColumn("__layer", lit(0)).withColumn("__del", lit(false))
      val upserts = t(s, dir, "documents")
        .filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("source"), (col("n_chars") * 2).as("n_chars"))
        .withColumn("__layer", lit(1)).withColumn("__del", lit(false))
      val tombstones = t(s, dir, "documents")
        .filter(col("doc_id") % 13 === 0)
        .select(col("doc_id"), lit(null).cast("string").as("source"),
          lit(null).cast("long").as("n_chars"))
        .withColumn("__layer", lit(2)).withColumn("__del", lit(true))
      base.unionByName(upserts).unionByName(tombstones)
        .groupBy("doc_id")
        .agg(max_by(struct(col("source"), col("n_chars"), col("__del")),
          col("__layer")).as("w"))
        .filter(!col("w.__del"))
        .groupBy(col("w.source").as("source"))
        .agg(count(lit(1)).as("live_docs"),
          sum(col("w.n_chars")).cast("bigint").as("chars"))
        .orderBy("source")
    })
}
