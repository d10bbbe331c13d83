package graft

import graft.util.Ckpt.RichCkpt

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.llm.{Dedup, Packing, Similarity, TextAnalysis}
import graft.operators.Relational

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query here is a `(SparkSession, sfDir) => DataFrame` with a
  * deterministic total order and (where ANSI-SQL-expressible) a DuckDB
  * oracle twin in [[oracleSql]] whose column names and formulas match
  * exactly. Integer-ish outputs are BIGINT on both sides.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Per-JVM scratch root for sink round-trip queries (q19/q61/q62):
    * `createTempDirectory` makes it unique per process, so concurrent
    * runs over the same dataset never trample each other's files, and a
    * shutdown hook removes the whole tree on exit. One subdirectory per
    * (tag, dataset dir), REUSED across invocations with overwrite-mode
    * writes: repeated runs in a long-lived session (Bench repeat loops,
    * SlopeGate) keep exactly one copy per dataset on disk instead of
    * accumulating one per run. Reuse is safe because each invocation
    * writes the same deterministic content for the same inputs, and the
    * read materializes before the next run's overwrite starts — ON ONE
    * THREAD. Test suites run CONCURRENTLY in one JVM
    * (`Test / testForkedParallel`), and two suites invoking the same
    * query would otherwise race one's Overwrite against the other's
    * read of the same path — so the path also keys on the calling
    * thread (driver-side only; Verify/Bench run queries on a single
    * thread and keep full reuse). */
  private lazy val scratchRoot: java.nio.file.Path = {
    // Scratch state is ephemeral per-JVM (deleted on exit), so it
    // belongs on the fastest local volume available: java.io.tmpdir on
    // this host is the backing disk whose intermittent stalls the
    // session config already evicts shuffle files from
    // (spark.local.dir → /dev/shm); store fixtures and version probes
    // paid that same disk tax on every read until r20. Prefer tmpfs
    // when present, overridable via SPARK_GRAFT_SCRATCH (a cluster
    // deployment's scratch is its own fast local volume — this is the
    // local-mode spelling of "keep ephemeral index state off the slow
    // tier", guide §6, not a local-only trick).
    val base = sys.env.get("SPARK_GRAFT_SCRATCH")
      .orElse(Option("/dev/shm").filter(d => new java.io.File(d).isDirectory))
      .map(java.nio.file.Paths.get(_))
    val p = base match {
      case Some(b) => java.nio.file.Files.createTempDirectory(b, "graft_roundtrip_")
      case None    => java.nio.file.Files.createTempDirectory("graft_roundtrip_")
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(p.toFile)
    }))
    p
  }
  private def scratch(tag: String, dir: String): String =
    s"$scratchRoot/${tag}_${java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(dir).toLong & 0xFFFFFFFFL)}_t${
      Thread.currentThread().getId}"

  /** Bench-hygiene fixture guard (r17 verdict item #1): the store-backed
    * queries (t139/t141/t145–t148, plus t149) need O(corpus) state —
    * a versioned index or persisted curation frames — to exist before
    * their OPERATIONAL delta probe can run. Building that state inside
    * the timed query re-pays the one-time corpus cost on every bench
    * capture (~70 s/round) and drowns the probe signal the cross-round
    * suspect detector compares. The build is therefore an idempotent
    * fixture: first call per JVM builds and drops a marker, later calls
    * are no-ops. Query functions call it INLINE (Verify and ad-hoc
    * callers stay fully self-contained); [[Bench]] additionally invokes
    * it through [[benchFixtures]] BEFORE the timed reps and reports the
    * build wall separately (`fixture_build_sec`), so the per-rep
    * statistic is the probe path only. Probing the post-append store
    * state is answer-identical to the old build-probe-append-probe
    * sequence by the probe/append order independence every family pins
    * in its spec (re-proved by the unchanged oracles). */
  private val FixtureEpoch = "r18a"
  private def ensureFixture(root: String)(build: => Unit): Unit = {
    val marker = s"$root/_FIXTURE_OK"
    val ok = graft.fs.Fs.exists(marker) &&
      graft.fs.Fs.readString(marker).trim == FixtureEpoch
    if (!ok) {
      if (graft.fs.Fs.exists(root)) graft.fs.Fs.deleteRecursive(root)
      build
      graft.fs.Fs.writeStringAtomic(marker, FixtureEpoch)
    }
  }

  /** Money math: the source doubles have ≤ `scale` decimal digits, so
    * accumulating `round(x·10^scale)` as BIGINT is exact and
    * order-independent (double sums are not — their value depends on
    * partition count/merge order, which would make the oracle compare
    * flaky). The final division back to double is a deterministic
    * function of the exact integer sum. */
  private def moneySum(c: Column, scale: Int): Column = {
    val f = math.pow(10, scale)
    sum(round(c * f).cast("long")).cast("double") / lit(f)
  }
  private def moneyAvg(c: Column, scale: Int): Column = {
    val f = math.pow(10, scale)
    sum(round(c * f).cast("long")).cast("double") / lit(f) / count(lit(1))
  }

  /** events.parquet's `ts` physical type has varied across testdata
    * generations — TIMESTAMP(NANOS) (which Spark only reads as a raw
    * nanos long under `legacy.parquet.nanosAsLong`) vs TIMESTAMP(MICROS)
    * (read as TIMESTAMP_NTZ). Adapt on the read type and derive one
    * canonical `ts_us` epoch-micros column: nanos long → `div 1000`
    * (the same floor-truncation DuckDB applies casting ns→µs); NTZ/TZ
    * timestamp → `unix_micros` (exact under the UTC session timezone
    * every entry point pins), matching the oracle's `epoch_us(ts)`. */
  private[graft] def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(s, dir, "events")
    val tsUs = df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }
    df.withColumn("ts_us", tsUs)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The 6-way star join: region ⋈ nation ⋈ customer ⋈ orders ⋈ lineitem
    * ⋈ supplier, revenue per (region, nation). */
  def entry(spark: SparkSession): DataFrame =
    q05RegionRevenue(spark, "/root/testdata/sf0.001")

  // ====================================================================
  // Relational core (SURVEY.md §2: scans, filters, dedup, joins, aggs,
  // windows, sorts, limits, set-ops, scalar fns, merge, gate)
  // ====================================================================

  private def q01PricingSummary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("2000-06-30").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice"), 2).as("sum_base_price"),
        moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("sum_disc_price"),
        moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 6).as("sum_charge"),
        avg(col("l_quantity")).as("avg_qty"),
        moneyAvg(col("l_extendedprice"), 2).as("avg_price"),
        moneyAvg(col("l_discount"), 2).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private def q02RevenueFilter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
        && col("l_discount").between(0.03, 0.07)
        && col("l_quantity") < 24)
      .agg(moneySum(col("l_extendedprice") * col("l_discount"), 4).as("revenue"),
        count(lit(1)).as("n_rows"))

  private def q03TopRevenueOrders(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(s, dir, "orders").filter(col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
    val l = t(s, dir, "lineitem").filter(col("l_shipdate") > lit("1999-01-01").cast("timestamp"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), to_date(col("o_orderdate")).as("o_orderdate"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  private def q04PriorityExists(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem")
    o.join(l, col("l_orderkey") === col("o_orderkey") && col("l_shipdate") > col("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  private def q05RegionRevenue(s: SparkSession, dir: String): DataFrame = {
    val r = t(s, dir, "region")
    val n = t(s, dir, "nation")
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem")
    val su = t(s, dir, "supplier")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(su, col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  private def q06AntiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"), moneySum(col("c_acctbal"), 2).as("sum_bal"))
      .orderBy(col("c_mktsegment"))
  }

  private def q07TopOrdersPerCustomer(s: SparkSession, dir: String): DataFrame =
    Relational.topKPerGroup(
        t(s, dir, "orders"), Seq("o_custkey"),
        Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
      .select(col("o_custkey"), col("rank").cast("long").as("rank"),
        col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"), col("rank"))

  private def q08RunningEvents(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    e.withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("running_cents",
        sum(round(col("value") * 100).cast("long"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"),
        col("prev_type"), col("running_cents"))
      .orderBy(col("user_id"), col("ts_us"), col("event_id"))
  }

  private def q09SetOps(s: SparkSession, dir: String): DataFrame = {
    // union/intersect/except cardinalities in ONE plan: a single
    // full-outer join of the two distinct key sets feeds all three
    // counts (each input is scanned once; the naive form is three
    // actions × two scans each, i.e. six scans and three jobs).
    val bigSpenders = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
      .select(col("o_custkey").as("custkey")).distinct()
      .withColumn("in_a", lit(1))
    val building = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("custkey")).distinct()
      .withColumn("in_b", lit(1))
    // null-safe join condition: DataFrame set ops treat NULL keys as
    // equal, and a plain `=` join would double-count a NULL key in
    // union_cnt — `<=>` keeps the two formulations equivalent even if
    // the key column ever becomes nullable
    bigSpenders.join(building, bigSpenders("custkey") <=> building("custkey"), "full_outer")
      .agg(
        count(lit(1)).as("union_cnt"),
        sum(when(col("in_a").isNotNull && col("in_b").isNotNull, 1L).otherwise(0L)).as("intersect_cnt"),
        sum(when(col("in_a").isNotNull && col("in_b").isNull, 1L).otherwise(0L)).as("except_cnt"))
  }

  private def q10Rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  private def q11DateScalar(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(
        year(col("o_orderdate")).cast("long").as("o_year"),
        month(col("o_orderdate")).cast("long").as("o_month"),
        substring_index(col("o_orderpriority"), "-", 1).as("prio_code"),
        when(col("o_totalprice") < 50000, "low")
          .when(col("o_totalprice") < 150000, "mid")
          .otherwise("high").as("price_band"),
        col("o_totalprice"))
      .groupBy(col("o_year"), col("o_month"), col("prio_code"), col("price_band"))
      .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice"), 2).as("sum_price"))
      .orderBy(col("o_year"), col("o_month"), col("prio_code"), col("price_band"))

  private def q12Having(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
    val su = t(s, dir, "supplier")
    l.groupBy(col("l_suppkey"))
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_items"))
      .filter(col("sum_qty") > 100)
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
      .select(col("l_suppkey"), col("s_name"), col("sum_qty"), col("n_items"))
      .orderBy(col("l_suppkey"))
  }

  private def q13Distinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"), col("l_tax"))
      .distinct()
      .orderBy(col("l_returnflag"), col("l_linestatus"), col("l_tax"))

  private def q14CountDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"),
        max(col("o_totalprice")).as("max_price"))
      .orderBy(col("o_orderstatus"))

  private def q15EventsHourly(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("bucket_us", unix_micros(date_trunc("hour", timestamp_micros(col("ts_us")))))
      .groupBy(col("bucket_us"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(round(col("value") * 100).cast("long")).as("sum_cents"))
      .orderBy(col("bucket_us"), col("event_type"))

  private def q16MergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
    val base = o.filter(col("o_orderkey") % 3 =!= 0)
    val delta = o.filter(col("o_orderkey") % 2 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 1.1)
    Relational.mergeUpsert(base, delta, Seq("o_orderkey"))
      .orderBy(col("o_orderkey"))
  }

  private def q17LatestEventPerUser(s: SparkSession, dir: String): DataFrame =
    Relational.latestPerKey(events(s, dir), Seq("user_id"), Seq(col("ts_us"), col("event_id")))
      .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"), col("value"))
      .orderBy(col("user_id"))

  private def q18CleanDocs(s: SparkSession, dir: String): DataFrame =
    Relational.distinctRows(Relational.dropNullRows(t(s, dir, "documents")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))

  private def q19CsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    // S3/S4 CSV scan + schema inference: parquet → csv → inferred read.
    val out = scratch("csv", dir)
    // partitioned write + globbed read-back — the distributed shape
    // (each writer task emits its own part file; the reader lists the
    // directory), no single-file coalesce bottleneck
    t(s, dir, "nation").write.mode("overwrite")
      .option("header", "true").csv(out)
    graft.infer.TypeInference.readCsv(s, out)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .orderBy(col("n_nationkey"))
  }

  private def q20VersionGate(s: SparkSession, dir: String): DataFrame = {
    // P3 incremental gate in bulk: strictly-newer versions only.
    val o = t(s, dir, "orders")
    val wm = o.filter(col("o_orderkey") <= 3000)
      .groupBy(col("o_orderstatus").as("st"))
      .agg(max(col("o_orderkey")).as("wm"))
    o.join(wm, col("o_orderstatus") === col("st"))
      .filter(col("o_orderkey") > col("wm"))
      .select(col("o_orderstatus"), col("o_orderkey"))
      .orderBy(col("o_orderstatus"), col("o_orderkey"))
  }

  private def q33SqlSubquery(s: SparkSession, dir: String): DataFrame = {
    // The SQL surface: same engine, ANSI text in, Catalyst plan out.
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
    s.sql("""
      SELECT l.l_partkey, count(*) AS n, sum(l.l_quantity) AS sum_qty
      FROM lineitem l
      JOIN (SELECT l_partkey, avg(l_quantity) AS aq FROM lineitem GROUP BY l_partkey) p
        ON l.l_partkey = p.l_partkey
      WHERE l.l_quantity < p.aq
      GROUP BY l.l_partkey ORDER BY l.l_partkey""")
  }

  private def q34Cube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  private def q35JsonExtract(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy((col("k") % 10).as("bucket"))
      .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("bucket"))

  private def q36AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts_us"))
    val clicks0 = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us"), col("event_id").as("click_event_id"))
    // unique right row per (user, ts) for determinism
    val clicks = Relational.latestPerKey(clicks0, Seq("user_id", "ts_us"), Seq(col("click_event_id")))
    Relational.asOfJoin(purchases, clicks, Seq("user_id"), "ts_us", "ts_us", Seq("click_event_id"))
      .filter(col("asof_ts_us").isNotNull)
      .orderBy(col("user_id"), col("ts_us"), col("event_id"))
  }

  private def q52AsofNative(s: SparkSession, dir: String): DataFrame = {
    // Same semantics as q36, through the custom LogicalPlan + Strategy +
    // BinaryExecNode (graft.plans.AsOfJoinPlan) instead of composition.
    val e = events(s, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts_us"))
    val clicks0 = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us"), col("event_id").as("click_event_id"))
    val clicks = Relational.latestPerKey(clicks0, Seq("user_id", "ts_us"), Seq(col("click_event_id")))
    graft.plans.AsOfJoinNative(purchases, clicks, Seq("user_id"), "ts_us", "ts_us", Seq("click_event_id"))
      .filter(col("asof_ts_us").isNotNull)
      .orderBy(col("user_id"), col("ts_us"), col("event_id"))
  }

  private def q53RangeJoin(s: SparkSession, dir: String): DataFrame = {
    // lineitems shipped within 30 days of their order's date: a range
    // join binned to equi-join (no nested-loop explosion).
    val day = 86400L
    // o_orderdate/l_shipdate come back TIMESTAMP_NTZ from parquet; cast
    // to TIMESTAMP under the UTC session = the oracle's epoch_us values
    val o = t(s, dir, "orders").select(col("o_orderkey"),
      unix_micros(col("o_orderdate").cast("timestamp")).as("start_us"),
      (unix_micros(col("o_orderdate").cast("timestamp")) + lit(30 * day * 1000000L)).as("end_us"))
    val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
      unix_micros(col("l_shipdate").cast("timestamp")).as("ship_us"))
    // the orderkey equi-conjunct goes INTO the join (not a post-filter):
    // with bin-only candidates, k× denser data forms k² pairs per bin —
    // the r7 RelScaleBench outlier (6.2× at 10×, NOTES_r8)
    Relational.rangeJoin(l, "ship_us", o, "start_us", "end_us",
        binWidth = 30 * day * 1000000L, keys = Seq("l_orderkey" -> "o_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_in_window"))
      .orderBy(col("o_orderkey"))
  }

  private def q60SqlIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    // The ad-hoc SQL surface the reference provisions
    // (/root/reference/README.md:8-12): a BETWEEN join with no
    // equi-conjunct would plan as BroadcastNestedLoopJoin (O(|L|·|R|));
    // graft.plans.IntervalJoinRewrite rewrites it to the binned
    // equi-join automatically — no operator call, no configuration: the
    // conf stays UNSET so the rule's `auto` width probe sizes the bins
    // from the data (deliberate: this query is the correct-by-default
    // evidence for the auto path).
    graft.plans.AsOfJoinNative.register(s)
    s.conf.unset(graft.plans.IntervalJoinRewrite.BinWidthKey)
    t(s, dir, "orders").createOrReplaceTempView("orders")
    t(s, dir, "part").createOrReplaceTempView("part")
    s.sql("""
      SELECT b.band_id, count(*) AS n_orders,
             sum(CAST(round(o.o_totalprice * 100.0) AS BIGINT)) AS sum_cents
      FROM orders o
      JOIN (SELECT p_partkey AS band_id,
                   p_retailprice * 50.0 AS lo,
                   p_retailprice * 50.0 + 40000.0 AS hi
            FROM part WHERE p_partkey % 100 = 0) b
        ON o.o_totalprice BETWEEN b.lo AND b.hi
      GROUP BY b.band_id ORDER BY b.band_id""")
  }

  private def q54NationVolume(s: SparkSession, dir: String): DataFrame = {
    // Q7-style shipping volume between customer-nation and supplier-nation
    val n1 = t(s, dir, "nation").select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    val n2 = t(s, dir, "nation").select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("c_nationkey") === col("c_nk"))
      .join(broadcast(n2), col("s_nationkey") === col("s_nk"))
      .filter(col("cust_nation") =!= col("supp_nation"))
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .groupBy(col("cust_nation"), col("supp_nation"), year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("volume"),
        count(lit(1)).as("n"))
      .filter(col("n") >= 5) // keep the output compact and stable
      .orderBy(col("cust_nation"), col("supp_nation"), col("l_year"))
  }

  private def q55TopSupplier(s: SparkSession, dir: String): DataFrame = {
    // Q15-style: suppliers achieving the maximum revenue (subquery on agg)
    val rev = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1996-07-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000).cast("long")).as("rev_e4"))
    // scalar-max as a broadcast join, not .first(): keeps the query one
    // plan/one job — no driver round-trip to carry the max back in
    val maxRev = rev.agg(max(col("rev_e4")).as("max_rev_e4"))
    rev.join(broadcast(maxRev), col("rev_e4") === col("max_rev_e4"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        (col("rev_e4").cast("double") / 10000).as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  private def q56ConditionalAgg(s: SparkSession, dir: String): DataFrame =
    // Q12-style: per order-priority class, high/low line counts
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L)).as("low_line_count"))
      .orderBy(col("l_returnflag"))

  private def q37Percentiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.5)").as("p50_qty"),
        expr("percentile(l_quantity, 0.25)").as("p25_qty"),
        expr("percentile(l_extendedprice, 0.75)").as("p75_price"),
        expr("percentile(l_extendedprice, 0.99)").as("p99_price"))
      .orderBy(col("l_returnflag"))

  private def q38Sessionize(s: SparkSession, dir: String): DataFrame = {
    val gapUs = 6L * 3600 * 1000000 // 6h inactivity closes a session
    val e = events(s, dir).select(col("user_id"), col("ts_us"), col("event_id"), col("value"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val flagged = e.withColumn("new_sess",
      when(col("ts_us") - lag(col("ts_us"), 1).over(w) > gapUs
        || lag(col("ts_us"), 1).over(w).isNull, 1L).otherwise(0L))
    val sess = flagged.withColumn("sid",
      sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sess.groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts_us")).as("session_start_us"), max(col("ts_us")).as("session_end_us"),
        count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"))
      .orderBy(col("user_id"), col("sid"))
  }

  private def q39MultisetOps(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val a = li.filter(col("l_quantity") < 10).select(col("l_returnflag"))
    val b = li.filter(col("l_discount") > 0.08).select(col("l_returnflag"))
    val ex = a.exceptAll(b).groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      .withColumn("op", lit("except_all"))
    val in = a.intersectAll(b).groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      .withColumn("op", lit("intersect_all"))
    ex.unionByName(in).select(col("op"), col("l_returnflag"), col("n"))
      .orderBy(col("op"), col("l_returnflag"))
  }

  private def q40ScalarBattery(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(
      col("o_orderkey"),
      upper(col("o_orderstatus")).as("up"),
      substring(col("o_orderpriority"), 3, 6).as("sub"),
      reverse(col("o_orderpriority")).as("rev"),
      length(col("o_orderpriority")).cast("long").as("len"),
      lpad(col("o_orderstatus"), 3, "x").as("lp"),
      concat(col("o_orderstatus"), lit("-"), col("o_orderpriority")).as("cat"),
      translate(col("o_orderpriority"), "-", "_").as("tr"),
      coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("nz"),
      abs(col("o_totalprice") - 100000).as("absdiff"),
      ceil(col("o_totalprice")).cast("long").as("ceil_p"),
      floor(col("o_totalprice")).cast("long").as("floor_p"),
      sqrt(col("o_totalprice")).as("sqrt_p"),
      pmod(col("o_orderkey"), lit(7)).as("pm"),
      greatest(col("o_totalprice"), col("o_orderkey").cast("double")).as("gr"))
      .orderBy(col("o_orderkey"))

  private def q41DateBattery(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(
      col("o_orderkey"),
      year(col("o_orderdate")).cast("long").as("y"),
      quarter(col("o_orderdate")).cast("long").as("q"),
      month(col("o_orderdate")).cast("long").as("m"),
      dayofmonth(col("o_orderdate")).cast("long").as("d"),
      dayofweek(col("o_orderdate")).cast("long").as("dow_sun1"),
      trunc(col("o_orderdate"), "month").as("month_start"),
      datediff(to_date(col("o_orderdate")), lit("2000-01-01").cast("date")).cast("long").as("days_since_2000"),
      date_add(to_date(col("o_orderdate")), 30).as("plus30"),
      last_day(col("o_orderdate")).as("month_end"))
      .orderBy(col("o_orderkey"))

  private def q42CollectSorted(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        // joined to a scalar string so the driver's pandas row-sort can
        // hash it (arrays are unhashable there); the sort inside makes
        // the join deterministic
        array_join(sort_array(collect_set(col("o_orderstatus"))), ",").as("statuses"),
        countDistinct(col("o_orderstatus")).as("n_statuses"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))

  // ====================================================================
  // LLM-pipeline operators (dedup, similarity, text analysis)
  // ====================================================================

  private def t21Fingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  private def t22Tokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextFunctions.subwordCount(col("text")).cast("long").as("n_subwords"),
        length(col("text")).cast("long").as("len_chars"))
      .orderBy(col("doc_id"))

  private def t23Quality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.punctCount(col("text")).cast("long").as("n_punct"),
        TextFunctions.digitCount(col("text")).cast("long").as("n_digits"),
        TextFunctions.stopwordCount(col("text")).cast("long").as("n_stopwords"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      .orderBy(col("doc_id"))

  private def t24LangId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))
      .orderBy(col("doc_id"))

  private def t25ExactDupGroups(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val withDups = d.unionAll(d.filter(col("doc_id") < 100))
    Dedup.exactDupGroups(withDups, "doc_id", "text")
      .orderBy(col("fp"))
  }

  // Similarity values are surfaced as floor(x·1e6) ("ppm"): floor of
  // bit-identical doubles is deterministic across engines, while decimal
  // rounding of a double can land on either side of a tie.
  private def t26JaccardPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardNearDupPairs(t(s, dir, "documents"), "doc_id", "text", n = 3, threshold = 0.8)
      .select(col("a_id"), col("b_id"), floor(col("jaccard") * 1e6).cast("long").as("jaccard_ppm"))
      .orderBy(col("a_id"), col("b_id"))

  /** Near-dup group resolution: transitive closure of the exact-Jaccard
    * pair graph via small-star/large-star, rep = min doc_id. */
  private def t58JaccardClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.jaccardNearDupPairs(t(s, dir, "documents"), "doc_id", "text", n = 3, threshold = 0.8)
    Dedup.connectedComponents(pairs, "a_id", "b_id")
      .orderBy(col("id"))
  }

  /** Survivor selection composed over the same pair graph: every doc
    * except non-representative near-dup cluster members. */
  private def t59DedupSurvivors(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.jaccardNearDupPairs(docs, "doc_id", "text", n = 3, threshold = 0.8)
    Dedup.dedupByPairs(docs, "doc_id", pairs, "a_id", "b_id")
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  private def t27EmbedNearDup(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.45)
      .select(col("a_id"), col("b_id"), floor(col("cos_sim") * 1e6).cast("long").as("cos_ppm"))
      .orderBy(col("a_id"), col("b_id"))

  private def t28KnnBrute(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.bruteTopK(e, e.filter(col("vec_id") < 20), "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("neighbor_id"),
        floor(col("cos_sim") * 1e6).cast("long").as("cos_ppm"))
      .orderBy(col("query_id"), col("rank"))
  }

  private def t33SqlCustomFn(s: SparkSession, dir: String): DataFrame = {
    // Custom Catalyst expressions exposed through the SQL surface.
    graft.functions.GraftFunctions.register(s)
    t(s, dir, "embeddings").createOrReplaceTempView("embeddings_v")
    s.sql("""
      SELECT vec_id, vec_dot(embedding, embedding) AS norm_sq
      FROM embeddings_v ORDER BY vec_id""")
  }

  private def q43LimitOffset(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .offset(10).limit(15)
      .select(col("o_orderkey"), col("o_totalprice"))

  // ---- non-SQL-expressible (probabilistic/approximate): rows-only ----

  private def q47GroupingSets(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql("""
      SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), (o_orderstatus, o_orderpriority))
      ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")
  }

  private def q48TypedTopK(s: SparkSession, dir: String): DataFrame = {
    // Typed Dataset surface + custom Aggregator: bounded-heap top-k per
    // group (O(n log k), no full per-group sort).
    val session = s
    import session.implicits._
    val agg = new graft.operators.TopKAggregator(3).toColumn
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_totalprice"), col("o_orderkey"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(agg.name("top_orderkeys"))
      .toDF("o_custkey", "top_keys")
      // scalar string for the same pandas-hashability reason as q42
      .select(col("o_custkey"),
        expr("array_join(transform(top_keys, x -> cast(x as string)), ',')").as("top_orderkeys"))
      .orderBy(col("o_custkey"))
  }

  private def q51CorrelatedSubquery(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders")
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
    s.sql("""
      SELECT o_orderkey, o_totalprice FROM orders o
      WHERE o_totalprice > (SELECT 30 * coalesce(avg(l_extendedprice), 0)
                            FROM lineitem WHERE l_orderkey = o.o_orderkey)
      ORDER BY o_orderkey""")
  }

  private def q49Pivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .na.fill(0L)
      .select(col("o_orderpriority"), col("F").as("f_cents"), col("O").as("o_cents"), col("P").as("p_cents"))
      .orderBy(col("o_orderpriority"))

  private def q50Unpivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .unpivot(Array(col("p_partkey")),
        Array(col("p_retailprice"), col("p_size").cast("double")),
        "attr", "val")
      .groupBy(col("attr"))
      .agg(count(lit(1)).as("n"), moneySum(col("val"), 2).as("sum_val"))
      .orderBy(col("attr"))

  private def t47WordCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(TextFunctions.tokens(TextFunctions.normalizeText(col("text")))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(100)

  private def t45EmbedLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDupLsh(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.45, numBits = 32, bandBits = 4)
      .select(col("a_id"), col("b_id"), floor(col("cos_sim") * 1e6).cast("long").as("cos_ppm"))
      .orderBy(col("a_id"), col("b_id"))

  private def t46Winnowing(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowingPairs(t(s, dir, "documents"), "doc_id", "text",
        k = 16, w = 8, minShared = 8)
      .orderBy(col("a_id"), col("b_id"))

  /** Incremental winnowing over the persisted fingerprint index — the
    * index-maintenance form completing the family (exact t64, minhash
    * t65, fuzzy-key stream, now winnowing): v1 of the corpus
    * (doc_id % 5 ≠ 0, original text) is fingerprint-indexed once; a
    * delta lands carrying NEW docs (doc_id % 5 = 0) and RE-UPLOADED
    * revisions (doc_id % 7 = 0, text + trailer). The probe anti-joins
    * the re-uploads' stale index rows, applies the df-cap over the
    * post-delta corpus, and emits exactly the delta-touching pairs a
    * rebuild would (pinned by SketchSpec). Literal oracle — winnowing
    * fingerprints are engine-native rolling hashes. */
  private def t121WinnowingDelta(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val revText = when(col("doc_id") % 7 === 0,
      concat(col("text"), lit(" winnowing rev2 trailer"))).otherwise(col("text"))
    val corpus = d.filter(col("doc_id") % 5 =!= 0)
    val delta = d.filter(col("doc_id") % 5 === 0 || col("doc_id") % 7 === 0)
      .withColumn("text", revText)
    Dedup.winnowingDeltaPairs(delta, "doc_id", "text",
        Dedup.winnowingIndex(corpus, "doc_id", "text", k = 16, w = 8),
        k = 16, w = 8, minShared = 8, maxDf = 16)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Winnowing with the MOSS df-cap ENGAGED (maxDf = 16 bites at sf0.01,
    * where the hottest fingerprint reaches df 33) — the production-scale
    * form of t46: fingerprints shared by more than maxDf docs are
    * boilerplate evidence, not copying evidence, and are dropped before
    * the pair join, bounding its otherwise df²-quadratic output. Capped
    * output ⊆ t46's uncapped output by construction (pinned in
    * SketchSpec); oracle = literal rows from an sf0.01 run. */
  private def t120WinnowingCapped(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowingPairs(t(s, dir, "documents"), "doc_id", "text",
        k = 16, w = 8, minShared = 8, maxDf = 16)
      .orderBy(col("a_id"), col("b_id"))

  /** Perceptual-hash image dedup ([[graft.llm.Multimodal.imageNearDupPairs]]):
    * the REAL decode path — 120 deterministic PNGs synthesized in-query
    * from doc ids (12 spectral groups, per-id pixel noise), decoded
    * with ImageIO, pHashed (32×32 gray → DCT-II → median threshold,
    * StrictMath throughout so bits are platform-identical), and paired
    * via the SimHash pigeonhole machinery at hamming ≤ 6. Output is the
    * per-(group, group) pair census — deterministic integers, pinned as
    * a literal sf0.01 oracle; the raw-pair semantics (banding == brute,
    * fallback hashing) are pinned in MultimodalSpec. */
  private def t125PhashPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = t(s, dir, "documents").select(col("doc_id"))
      .filter(col("doc_id") < 120).as[Long]
    val media = ids.mapPartitions(_.map(id =>
      graft.llm.Multimodal.MediaRecord(
        id, "image", graft.llm.Multimodal.synthImagePng(id), 32, 32, 0L)))
    graft.llm.Multimodal.imageNearDupPairs(media, maxHamming = 6)
      .select((col("a_id") % 12).as("a_grp"), (col("b_id") % 12).as("b_grp"),
        col("hamming"))
      .groupBy(col("a_grp"), col("b_grp"))
      .agg(count(lit(1)).as("n_pairs"), max(col("hamming")).cast("long").as("max_hamming"))
      .orderBy(col("a_grp"), col("b_grp"))
  }

  /** Audio-fingerprint dedup ([[graft.llm.Multimodal.audioNearDupPairs]]):
    * the audio twin of t125 over the REAL `javax.sound` decode path —
    * 120 deterministic 1-second WAVs synthesized in-query (12
    * loudness-envelope groups, 4 id-nudged windows each), decoded to
    * PCM, energy-envelope fingerprinted (64 window energies →
    * median threshold) and paired at hamming ≤ 7 through the shared
    * pigeonhole machinery. Output: per-(group, group) pair census,
    * literal sf0.01 oracle; raw-pair semantics pinned in
    * MultimodalSpec. */
  private def t126AudiofpPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = t(s, dir, "documents").select(col("doc_id"))
      .filter(col("doc_id") < 120).as[Long]
    val media = ids.mapPartitions(_.map(id =>
      graft.llm.Multimodal.MediaRecord(
        id, "audio", graft.llm.Multimodal.synthWavPcm(id), 0, 0, 1000L)))
    graft.llm.Multimodal.audioNearDupPairs(media, maxHamming = 7)
      .select((col("a_id") % 12).as("a_grp"), (col("b_id") % 12).as("b_grp"),
        col("hamming"))
      .groupBy(col("a_grp"), col("b_grp"))
      .agg(count(lit(1)).as("n_pairs"), max(col("hamming")).cast("long").as("max_hamming"))
      .orderBy(col("a_grp"), col("b_grp"))
  }

  /** Incremental perceptual-hash dedup
    * ([[graft.llm.Dedup.sigHammingDeltaPairs]] over a persisted
    * [[graft.llm.Multimodal.imagePHashes]] index) — the t121/t123
    * index/delta maintenance story for the media-hash family: corpus v1
    * (ids % 5 ≠ 0) is decoded and hashed once; the delta batch carries
    * NEW images (ids % 5 = 0) and RE-UPLOADS with a CHANGED image
    * (ids % 7 = 0, shifted to a different spectral group — their stale
    * signatures must be displaced, not matched); only the delta decodes
    * per batch. Output: the delta-touching per-(group, group) pair
    * census at hamming ≤ 6, literal sf0.01 oracle (group labels derive
    * from ids, so a re-uploaded doc keeps its OLD label while its NEW
    * spectral group drives the pairing — deterministic either way);
    * delta == rebuild-restricted is pinned generically in DedupSpec. */
  private def t127PhashDelta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.llm.Multimodal
    val ids = t(s, dir, "documents").select(col("doc_id"))
      .filter(col("doc_id") < 120).as[Long]
    val v1 = ids.filter((id: Long) => id % 5 != 0).mapPartitions(_.map(id =>
      Multimodal.MediaRecord(id, "image", Multimodal.synthImagePng(id), 32, 32, 0L)))
    val corpusIdx = Multimodal.imagePHashes(v1).toDF()
      .select(col("media_id").as("id"), col("phash").as("sig"))
    val deltaMedia = ids.filter((id: Long) => id % 5 == 0 || id % 7 == 0)
      .mapPartitions(_.map { id =>
        val bytes =
          if (id % 7 == 0) Multimodal.synthImagePng(id + 601) // re-upload, new group
          else Multimodal.synthImagePng(id)
        Multimodal.MediaRecord(id, "image", bytes, 32, 32, 0L)
      })
    val deltaSigs = Multimodal.imagePHashes(deltaMedia).toDF()
      .select(col("media_id").as("id"), col("phash").as("sig"))
    graft.llm.Dedup.sigHammingDeltaPairs(deltaSigs, corpusIdx, maxHamming = 6)
      .select((col("a_id") % 12).as("a_grp"), (col("b_id") % 12).as("b_grp"),
        col("hamming"))
      .groupBy(col("a_grp"), col("b_grp"))
      .agg(count(lit(1)).as("n_pairs"), max(col("hamming")).cast("long").as("max_hamming"))
      .orderBy(col("a_grp"), col("b_grp"))
  }

  private def t48Multimodal(s: SparkSession, dir: String): DataFrame = {
    // Multimodal plumbing over synthetic media (bytes = utf8(text)) —
    // the utf8 bytes aren't decodable images/audio, so every row takes
    // the deterministic byte-feature path; real-codec decode (ImageIO /
    // javax.sound) is exercised on real media in MultimodalSpec.
    // Per-row integer micros BEFORE the sum: a sum of doubles is
    // partition-order-dependent, a sum of longs is exact.
    val media = graft.llm.Multimodal.syntheticMedia(s, t(s, dir, "documents"), "doc_id", "text")
    graft.llm.Multimodal.extractFeatures(media, frameCount = 4)
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n"), sum(col("n_bytes")).as("total_bytes"),
        sum(floor(col("brightness") * 1e6).cast("long")).as("brightness_micro"))
      .orderBy(col("kind"))
  }

  /** k-means-IVF ANN graded against brute force: per query, how many of
    * the true top-10 the index recovered (recall@10, floor 0.5). The
    * output is integer counts — deterministic because centroids
    * accumulate in decimal (partition-order-independent) and every tie
    * breaks on ids — so the driver hash-checks ANN *quality*, not just
    * row counts (r5 verdict #3). The raw top-k lists stay covered by
    * SimilaritySpec. */
  private def t49KnnIvfKmeans(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 20)
    val ann = Similarity.ivfKmeansTopK(e, q, "vec_id", "embedding",
      k = 10, nCells = 16, nprobe = 4, iters = 2)
    val brute = Similarity.bruteTopK(e, q, "vec_id", "embedding", k = 10)
    Similarity.recallAtK(ann, brute).orderBy(col("query_id"))
  }

  /** Incremental IVF ANN maintenance — the t97/t110 offline-index story
    * for the embedding family: centroids train once on corpus v1
    * (vec_id % 5 ≠ 0) and persist ([[graft.llm.Similarity.kMeansIndex]]);
    * v1's cell assignment persists as the ANN "postings"; the delta
    * batch (vec_id % 5 = 0) assigns against the SAME persisted
    * centroids (assignment is a pure function of (vector, centroids))
    * and group-merges in — the corpus is never re-scanned or
    * re-clustered per batch. Search from the merged assignment is
    * graded as recall vs brute over the FULL corpus, so the literal
    * oracle hash-checks the maintained index's quality (deterministic:
    * decimal centroid accumulation, id tie-breaks — the t49 contract). */
  private def t112KnnIvfIncremental(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val v1 = e.filter(col("vec_id") % 5 =!= 0)
    val delta = e.filter(col("vec_id") % 5 === 0)
    val root = scratch("ivfinc", dir)
    Similarity.kMeansIndex(v1, "vec_id", "embedding", k = 16, iters = 2)
      .write.mode("overwrite").parquet(s"$root/centroids")
    val cents = Similarity.centroidsOf(s.read.parquet(s"$root/centroids"))
    Similarity.ivfAssignedIndex(v1, "vec_id", "embedding", cents)
      .write.mode("overwrite").parquet(s"$root/assigned")
    val merged = graft.operators.Relational.mergeReplaceGroups(
      s.read.parquet(s"$root/assigned"),
      Similarity.ivfAssignedIndex(delta, "vec_id", "embedding", cents),
      Seq("vec_id"))
    val q = e.filter(col("vec_id") < 20)
    // adaptive nprobe (distance-ratio escalation): boundary queries —
    // where fixed nprobe=6 lost its recall (r11 avg 0.66, floor 0.5) —
    // probe up to maxProbe cells; deep-in-cell queries stay at minProbe.
    // Floor raised to 0.7 with the escalation in place.
    val ann = Similarity.ivfSearchAssignedAdaptive(merged, cents, q,
      "vec_id", "embedding", k = 10, minProbe = 6, maxProbe = 12,
      ratioPpm = 2000000L)
    val brute = Similarity.bruteTopK(e, q, "vec_id", "embedding", k = 10)
    Similarity.recallAtK(ann, brute, floorPpm = 700000L).orderBy(col("query_id"))
  }

  /** [[t112KnnIvfIncremental]]'s exact flow with the merged assignment
    * PERSISTED in the cell-bucketed pruned layout
    * ([[graft.llm.Similarity.writeAssignedPruned]]) and searched via
    * [[graft.llm.Similarity.ivfSearchPrunedAdaptive]]: the adaptive
    * probe resolves its cell set first and reads ONLY those cells'
    * bucket files (manifest-listed, no directory scan) — the t119
    * pruned-postings story for the embedding family. The oracle IS
    * t112's literal oracle, byte-identical: pruning may change what is
    * READ, never what is answered (a vector's rows live in exactly one
    * cell, so every probed cell is complete in the pruned view). */
  private def t130KnnIvfPruned(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val v1 = e.filter(col("vec_id") % 5 =!= 0)
    val delta = e.filter(col("vec_id") % 5 === 0)
    val root = scratch("ivfprune", dir)
    val cents = Similarity.kMeansCentroids(v1, "vec_id", "embedding", k = 16, iters = 2)
    val merged = graft.operators.Relational.mergeReplaceGroups(
      Similarity.ivfAssignedIndex(v1, "vec_id", "embedding", cents),
      Similarity.ivfAssignedIndex(delta, "vec_id", "embedding", cents),
      Seq("vec_id"))
    Similarity.writeAssignedPruned(merged, "vec_id", "embedding",
      s"$root/assigned_pruned", numBuckets = 16)
    val q = e.filter(col("vec_id") < 20)
    val ann = Similarity.ivfSearchPrunedAdaptive(s, s"$root/assigned_pruned",
      cents, q, "vec_id", "embedding", k = 10, minProbe = 6, maxProbe = 12,
      ratioPpm = 2000000L)
    val brute = Similarity.bruteTopK(e, q, "vec_id", "embedding", k = 10)
    Similarity.recallAtK(ann, brute, floorPpm = 700000L).orderBy(col("query_id"))
  }

  /** Graph ANN ([[graft.llm.GraphAnn.nswTopK]]) graded against brute
    * force — the HNSW-class index shape, distributed SPANN-style:
    * k-means cells route each query to its 8 nearest cells, each cell
    * builds a deterministic navigable-small-world graph locally
    * (partition-sized memory; the corpus crosses ONE shuffle), and the
    * per-cell beam results merge through a thin top-k window. Same
    * recall-vs-brute grading contract as [[t49KnnIvfKmeans]]/t112
    * (decimal centroids, id tie-breaks, bit-equal cosines), so the
    * literal oracle hash-checks the graph search's QUALITY. Exactness
    * escalation (nprobe = nCells, ef ≥ cell size ⇒ == brute) is pinned
    * in GraphAnnSpec. */
  private def t129KnnGraphNsw(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 20)
    val ann = graft.llm.GraphAnn.nswTopK(e, q, "vec_id", "embedding",
      k = 10, nCells = 16, nprobe = 8, iters = 2, m = 8,
      efConstruction = 48, efSearch = 48)
    val brute = Similarity.bruteTopK(e, q, "vec_id", "embedding", k = 10)
    Similarity.recallAtK(ann, brute, floorPpm = 500000L).orderBy(col("query_id"))
  }

  /** [[t129KnnGraphNsw]]'s index PERSISTED and DELTA-MAINTAINED: the
    * corpus arrives in two batches under frozen centroids; the v1
    * adjacency is written as a cell-bucketed
    * [[graft.sources.PrunedIndex]] ([[graft.llm.GraphAnn
    * .writeGraphIndex]]), the delta merges through
    * [[graft.llm.GraphAnn.mergeGraphEdgesForDelta]] (append-only cells
    * CONTINUE the stored sequential build; interleaved cells rebuild —
    * either way == full rebuild, pinned in GraphAnnSpec), and the
    * search ([[graft.llm.GraphAnn.nswSearchGraph]]) reconstructs each
    * probed cell's graph from its stored edge buckets — no per-batch
    * graph build. The oracle IS t129's literal oracle byte-for-byte:
    * the same argument as t130==t112 — persistence and maintenance
    * change what is STORED and READ, never the answer (assignment is a
    * per-row pure function of the frozen centroids, so the merged
    * assignment equals the full one; delta-merged edges equal the full
    * rebuild; reconstruction restores the exact adjacency). */
  private def t131KnnGraphPersisted(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val v1 = e.filter(col("vec_id") % 5 =!= 0)
    val delta = e.filter(col("vec_id") % 5 === 0)
    val root = scratch("nswgraph", dir)
    val cents = Similarity.kMeansCentroids(e, "vec_id", "embedding", k = 16, iters = 2)
    val a1 = Similarity.ivfAssignedIndex(v1, "vec_id", "embedding", cents)
    val aD = Similarity.ivfAssignedIndex(delta, "vec_id", "embedding", cents)
    val merged = graft.operators.Relational.mergeReplaceGroups(a1, aD, Seq("vec_id"))
    Similarity.writeAssignedPruned(merged, "vec_id", "embedding",
      s"$root/assigned", numBuckets = 16)
    graft.llm.GraphAnn.writeGraphIndex(
      graft.llm.GraphAnn.buildGraphEdges(a1, "vec_id", "embedding",
        m = 8, efConstruction = 48),
      s"$root/graph_v1", numBuckets = 16)
    val edgesV2 = graft.llm.GraphAnn.mergeGraphEdgesForDelta(s, s"$root/graph_v1",
      a1, aD, "vec_id", "embedding", m = 8, efConstruction = 48)
    graft.llm.GraphAnn.writeGraphIndex(edgesV2, s"$root/graph_v2", numBuckets = 16)
    val q = e.filter(col("vec_id") < 20)
    val ann = graft.llm.GraphAnn.nswSearchGraph(s, s"$root/assigned",
      s"$root/graph_v2", cents, q, "vec_id", "embedding",
      k = 10, nprobe = 8, efSearch = 48)
    val brute = Similarity.bruteTopK(e, q, "vec_id", "embedding", k = 10)
    Similarity.recallAtK(ann, brute, floorPpm = 500000L).orderBy(col("query_id"))
  }

  /** The CLOSED drift loop over the versioned ANN index store
    * ([[graft.llm.AnnIndexStore]]) — what t115's monitor feeds: two
    * independent stores built from the same v1 corpus each receive a
    * delta; the in-distribution delta measures drift ≈ 10⁶ ppm, stays
    * below the 2×10⁶ threshold, writes NOTHING (byte-identical store,
    * pinned in AnnIndexStoreSpec) and is absorbed by the
    * frozen-centroid [[graft.llm.AnnIndexStore.appendDelta]]; the
    * shifted delta (+3.0 per float — out of distribution) drives drift
    * past threshold, triggering retrain + full rebuild + atomic
    * `_CURRENT` swap.
    *
    * OPERATIONAL path only (build → measure → recluster-or-append →
    * search) — the r17 bench-hygiene split: the rebuilt-equals-fresh
    * parity this query used to re-derive with a from-scratch rebuild
    * IN the query lives in AnnIndexStoreSpec ("recluster fires, new
    * version == fresh build on the merged corpus"; "appendDelta under
    * frozen centroids == fresh assignment search"). The literal oracle
    * instead pins the post-maintenance search OUTPUT itself via two
    * integer checksums (Σ rank·neighbor_id, Σ floor(cos·10⁶) — both
    * deterministic: decimal centroids, total-order ties), so a search
    * regression still breaks the driver hash without the bench paying
    * a rebuild per run. */
  private def t132AnnDriftRecluster(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.llm.AnnIndexStore
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val v1 = e.filter(col("vec_id") % 5 =!= 0)
    val deltaSame = e.filter(col("vec_id") % 5 === 0)
    val deltaShift = deltaSame.select(col("vec_id"),
      transform(col("embedding"), x => (x + lit(3.0f)).cast("float")).as("embedding"))
    val root = scratch("annstore", dir)
    val p = AnnIndexStore.Params(nCells = 16, iters = 2, numBuckets = 16,
      m = 8, efConstruction = 48)
    val q = e.filter(col("vec_id") < 20)
    def scenario(name: String, delta: DataFrame): (String, Long, Int, Long, Long, Long, Long) = {
      val r = s"$root/$name"
      AnnIndexStore.build(s, v1, "vec_id", "embedding", r, p)
      val d = AnnIndexStore.reclusterIfDrifted(s, r, delta, "vec_id", "embedding",
        thresholdPpm = 2000000L, p)
      val vAfter =
        if (d.reclustered) d.version
        else AnnIndexStore.appendDelta(s, r, delta, "vec_id", "embedding", p)
      val store = AnnIndexStore.searchGraph(s, r, q, "vec_id", "embedding",
        k = 10, nprobe = 8, efSearch = 48)
      val (nbrCk, cosCk) = store.select(
          sum(col("rank") * col("neighbor_id")).cast("long"),
          sum(floor(col("cos_sim") * 1e6)).cast("long"))
        .as[(Long, Long)].head()
      val nIndex = AnnIndexStore.assigned(s, r).count()
      (name, d.driftPpm, if (d.reclustered) 1 else 0, vAfter, nIndex, nbrCk, cosCk)
    }
    // the two scenarios touch disjoint store roots and share only the
    // immutable inputs — run them overlapped (guide §2.6); results stay
    // in declaration order and the output is orderBy'd regardless
    graft.util.Par.run(Seq(
        () => scenario("in_dist", deltaSame),
        () => scenario("shifted", deltaShift)))
      .toDF("scenario", "drift_ppm", "reclustered", "version_after", "n_index",
        "nbr_ck", "cos_ck")
      .orderBy(col("scenario"))
  }

  /** IVF assignment drift monitor
    * ([[graft.llm.Similarity.ivfCellStats]]): per-cell integer mean
    * squared distance of the v1 corpus vs the delta batch, both under
    * v1's centroids — the index-health signal that schedules a
    * re-cluster in the t112 incremental deployment (drift_ppm =
    * mean_delta·10⁶ DIV mean_v1). Deterministic (decimal centroids,
    * per-vector ppm floors, integer means) → literal oracle. */
  private def t115IvfDrift(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val v1 = e.filter(col("vec_id") % 5 =!= 0)
    val delta = e.filter(col("vec_id") % 5 === 0)
    val cents = Similarity.kMeansCentroids(v1, "vec_id", "embedding", 16, 2)
    val base = Similarity.ivfCellStats(v1, "vec_id", "embedding", cents)
      .select(col("cell"), col("n").as("n_v1"),
        col("mean_d2_ppm").as("mean_d2_v1"))
    val dlt = Similarity.ivfCellStats(delta, "vec_id", "embedding", cents)
      .select(col("cell"), col("n").as("n_delta"),
        col("mean_d2_ppm").as("mean_d2_delta"))
    base.join(dlt, Seq("cell"), "full_outer")
      .select(col("cell"),
        coalesce(col("n_v1"), lit(0L)).as("n_v1"),
        coalesce(col("mean_d2_v1"), lit(0L)).as("mean_d2_v1"),
        coalesce(col("n_delta"), lit(0L)).as("n_delta"),
        coalesce(col("mean_d2_delta"), lit(0L)).as("mean_d2_delta"))
      .withColumn("drift_ppm",
        expr("mean_d2_delta * 1000000L DIV greatest(mean_d2_v1, 1L)"))
      .orderBy(col("cell"))
  }

  /** Per-doc BPE token counts under the learned merge table (which is
    * itself hash-checked as t61). Deterministic — training ties break
    * lexicographically, encoding is a pure function of (text, merges) —
    * so the full 500-row table literal-oracle-checks. */
  private def t50BpeTokens(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val merges = graft.llm.Bpe.train(docs, "text", numMerges = 24)
    graft.llm.Bpe.tokenCounts(docs, "doc_id", "text", merges)
      .orderBy(col("doc_id"))
  }

  private def q57HashSample(s: SparkSession, dir: String): DataFrame =
    // deterministic md5-keyed sampling: identical membership in any
    // engine — the reproducible train/test-split primitive
    graft.operators.Sampling.split(
        graft.operators.Sampling.hashSample(t(s, dir, "documents"), "doc_id", 0.5),
        "doc_id", testFraction = 0.2, validFraction = 0.1)
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("split"), col("lang"))

  // t44 split (r2 verdict): the exact half is hash-checked against the
  // DuckDB oracle; the HLL half lives in t62, hash-checked against a
  // literal oracle (HLL registers merge by max — order-independent —
  // so the estimate is a deterministic function of the data, just not
  // one another engine's sketch reproduces).
  private def t44DistinctExact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("exact_orders"),
        countDistinct(col("l_partkey")).as("exact_parts"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  private def t62DistinctApprox(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_orderkey")).as("approx_orders"),
        approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"))
      .orderBy(col("l_returnflag"))

  /** The learned BPE merge table itself — deterministic (ties break
    * lexicographically), so it oracle-checks against literal expected
    * rows at the driver's verify scale (sf0.01); BpeSpec separately
    * proves distributed == driver-reference training. */
  private def t61BpeMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val merges = graft.llm.Bpe.train(t(s, dir, "documents"), "text", numMerges = 24)
    merges.zipWithIndex
      .map { case ((l, r), i) => (i.toLong, l, r) }
      .toDF("rank", "l", "r")
      .orderBy(col("rank"))
  }

  private def t63Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    // "benchmark" = a fixed slice of the corpus: every 50th doc stands
    // in for an eval suite that leaked into the training data — the
    // query flags the leaked docs themselves plus their near-dups
    val bench = d.filter(col("doc_id") % 50 === 0)
    graft.llm.Decontaminate.overlapPairs(d, "doc_id", "text",
        bench, "doc_id", "text", n = 8, minShared = 1)
      .orderBy(col("doc_id"), col("bench_id"))
  }

  private def t64IncrementalExact(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    // delta batch = re-keyed copies of the first 100 docs (same text,
    // new ids) — every delta doc is an exact dup of its corpus original
    val delta = d.filter(col("doc_id") < 100)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    Dedup.exactDeltaDups(delta, "doc_id", "text",
        Dedup.fingerprintIndex(d, "doc_id", "text"))
      .orderBy(col("delta_id"), col("corpus_id"))
  }

  private def t65IncrementalMinhash(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    // corpus/delta split of the same table: the delta (every 5th doc)
    // dedups against the persisted band index of the rest — per-batch
    // cost ∝ |delta|, the corpus is probed, never self-joined
    val delta = d.filter(col("doc_id") % 5 === 0)
    val corpus = d.filter(col("doc_id") % 5 =!= 0)
    Dedup.minHashDeltaPairs(delta, corpus,
        Dedup.minHashBandIndex(corpus, "doc_id", "text"),
        "doc_id", "text", n = 3, numHashes = 64, bands = 16, threshold = 0.8)
      .select(col("a_id"), col("b_id"),
        floor(col("jaccard") * 1e6).cast("long").as("jac_ppm"))
      .orderBy(col("a_id"), col("b_id"))
  }

  private def t29MinHashLsh(s: SparkSession, dir: String): DataFrame =
    // jaccard → ppm: the ratio itself is an exact int/int double, but an
    // integer column makes the literal oracle below bit-exact trivially
    Dedup.minHashLshPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, numHashes = 64, bands = 16, threshold = 0.8)
      .select(col("a_id"), col("b_id"),
        floor(col("jaccard") * 1e6).cast("long").as("jac_ppm"))
      .orderBy(col("a_id"), col("b_id"))

  private def t30SimHash(s: SparkSession, dir: String): DataFrame =
    // maxHamming = 3 — the standard web-dedup operating point (Manku et
    // al., WWW'07): completeness then guarantees 5 agreeing chunks, so
    // banding keys are 40-bit — selective even on template-heavy corpora
    Dedup.simHashPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
      .orderBy(col("a_id"), col("b_id"))

  /** IVF ANN graded against brute force — same recall contract as
    * [[t49KnnIvfKmeans]], over the deterministic lowest-id-centroid
    * index. */
  private def t31KnnIvf(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 20)
    val ann = Similarity.ivfTopK(e, q, "vec_id", "embedding", k = 10, nCells = 16, nprobe = 4)
    val brute = Similarity.bruteTopK(e, q, "vec_id", "embedding", k = 10)
    Similarity.recallAtK(ann, brute).orderBy(col("query_id"))
  }

  private def t32TextAnalyze(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.analyze(t(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
        col("n_tokens").cast("long").as("n_tokens"), col("lang_pred"), col("fp"))
      .orderBy(col("doc_id"))

  /** PII scrub (pre-training privacy pass). The synthetic corpus is
    * clean, so deterministic PII is appended first — an email, an IPv4
    * and a 7-digit phone-ish run derived from doc_id — then scrubbed
    * with [[TextFunctions.redactPii]]; per-kind match counts come from
    * the same patterns over the un-scrubbed text. */
  private def t66PiiScrub(s: SparkSession, dir: String): DataFrame = {
    val dirty = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
        lit(" ip 10.0."), (col("doc_id") % 256).cast("string"),
        lit("."), (col("doc_id") % 100).cast("string"),
        lit(" tel "), lpad(((col("doc_id") * 7919) % 10000000).cast("string"), 7, "0")
      ).as("text"))
    val counts = TextFunctions.PiiRules.map(_._1).zip(Seq("n_email", "n_ip", "n_num"))
      .map { case (pat, name) =>
        size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long").as(name)
      }
    dirty.select(col("doc_id") +: TextFunctions.redactPii(col("text")).as("clean") +: counts: _*)
      .orderBy(col("doc_id"))
  }

  /** Gopher/C4-style repetition & boilerplate signals: duplicate 2/3-gram
    * fraction, mean word length, punctuation-per-token — one narrow
    * codegen'd scan, no shuffle. */
  private def t67Repetition(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      TextFunctions.dupShingleFracPpm(col("text"), 2).as("dup_2gram_ppm"),
      TextFunctions.dupShingleFracPpm(col("text"), 3).as("dup_3gram_ppm"),
      TextFunctions.meanWordLenPpm(col("text")).as("mean_word_len_ppm"),
      TextFunctions.punctPerTokenPpm(col("text")).as("punct_per_token_ppm"))
      .orderBy(col("doc_id"))

  /** Concat-and-chunk sequence packing into 64-token context blocks via
    * the distributed prefix sum in [[Packing.packBlocks]]. */
  private def t68SequencePacking(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    Packing.packBlocks(d, "doc_id", TextFunctions.tokenCount(col("text")), blockTokens = 64)
      .select(col("doc_id"), col("n_tokens"), col("start_tok"),
        col("start_block"), col("end_block"), col("n_blocks"))
      .orderBy(col("doc_id"))
  }

  /** JSON-lines sink + source round-trip (schema-on-read with the
    * writer's schema), then an aggregate proving value fidelity. */
  private def q61JsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("json", dir)
    val src = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
    src.write.mode("overwrite").json(out)
    s.read.schema(src.schema).json(out)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("c_acctbal") * 100).cast("long")).cast("double") / 100.0).as("sum_bal"))
      .orderBy(col("c_mktsegment"))
  }

  /** Columnar ORC sink + source round-trip (second columnar format
    * besides parquet), aggregate fidelity check. */
  private def q62OrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("orc", dir)
    t(s, dir, "supplier").write.mode("overwrite").orc(out)
    s.read.orc(out)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("s_acctbal") * 100).cast("long")).cast("double") / 100.0).as("sum_bal"))
      .orderBy(col("s_nationkey"))
  }

  /** Per-stratum deterministic sampling (training-mix rebalance): each
    * language keeps its own quota, unlisted languages drop out. */
  private def q63StratifiedSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratifiedHashSample(
        t(s, dir, "documents"), "doc_id", "lang",
        Map("en" -> 0.5, "fr" -> 0.3, "de" -> 0.2))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("sum_chars"))
      .orderBy(col("lang"))

  /** Corpus-frequency rarity (OOV signal). The synthetic corpus has a
    * tiny fully-frequent vocabulary, so each doc first gets one unique
    * marker token (same synthesis idiom as t66's PII) — the operator
    * then has real rare mass to find. */
  private def t69RareTokens(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"), lit(" uniq"), col("doc_id").cast("string")).as("text"))
    TextAnalysis.rareTokenStats(d, "doc_id", "text", maxCount = 2L)
      .orderBy(col("doc_id"))
  }

  /** Gopher-rule quality filter bundle: keep/drop + first-fail reason,
    * thresholds tuned so the sf corpus shows every verdict. */
  private def t70GopherFilter(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherFilter(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** URL host extraction + per-domain corpus stats (crawl curation:
    * domain mix / blocklist input). URLs are synthesized from doc_id —
    * the corpus has none — then extracted with the shared RE2-safe
    * pattern. */
  private def t71UrlStats(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        lit(" see https://site"), (col("doc_id") % 7).cast("string"),
        lit(".example.org/p/"), col("doc_id").cast("string"),
        lit(" and http://ref"), (col("doc_id") % 3).cast("string"), lit(".net/x")).as("text"))
    d.select(col("doc_id"), explode(TextFunctions.urlHosts(col("text"))).as("host"))
      .groupBy(col("host"))
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_hits"))
      .orderBy(col("host"))
  }

  /** SemDeDup: embedding near-dup pairs restricted to k-means clusters
    * — the O(n²/k) semantic-dedup scale path; ppm-floored cosine for
    * the literal oracle. */
  private def t72SemDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.semDedupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        nClusters = 8, minCos = 0.45)
      .select(col("cell"), col("a_id"), col("b_id"),
        floor(col("cos_sim") * 1e6).cast("long").as("cos_ppm"))
      .orderBy(col("a_id"), col("b_id"))

  /** End-to-end SemDeDup scrub: cluster-scoped pairs → connected
    * components → survivor selection (drop all but each component's min
    * id). Oracle = DuckDB recursive CC over the t72 literal pair set —
    * the pairs themselves are hash-checked by t72, so this checks the
    * resolution + anti-join composition. */
  private def t73SemDedupSurvivors(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val pairs = Dedup.semDedupPairs(e, "vec_id", "embedding", nClusters = 8, minCos = 0.45)
    Dedup.dedupByPairs(e.select(col("vec_id")), "vec_id", pairs, "a_id", "b_id")
      .orderBy(col("vec_id"))
  }

  /** Incremental SemDeDup: the delta (every 5th embedding) dedups
    * against a persisted k-means index of the rest — delta assigned to
    * the EXISTING cells, corpus probed within matched cells only, never
    * re-clustered (t65's incremental contract applied to the embedding
    * family; equivalence with the fixed-centroid full run is pinned by
    * DedupSpec). */
  private def t79SemDedupDelta(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val delta = e.filter(col("vec_id") % 5 === 0)
    val corpus = e.filter(col("vec_id") % 5 =!= 0)
    val cIdx = Similarity.kMeansIndex(corpus, "vec_id", "embedding", k = 8, iters = 3)
    val cells = Dedup.semDedupCellIndex(corpus, "vec_id", "embedding", cIdx)
    Dedup.semDedupDeltaPairs(delta, corpus, cIdx, cells,
        "vec_id", "embedding", minCos = 0.35)
      .select(col("cell"), col("a_id"), col("b_id"),
        floor(col("cos_sim") * 1e6).cast("long").as("cos_ppm"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Semantic (embedding) decontamination against an eval subset — the
    * paraphrase-robust complement of t63's n-gram overlap. Self-pairs
    * (the eval set is a corpus subset here) are excluded in the query,
    * not the operator: cross-table usage has no identity to exclude. */
  private def t74SemanticDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    graft.llm.Decontaminate.semanticOverlapPairs(
        e, e.filter(col("vec_id") % 50 === 0), "vec_id", "embedding", minCos = 0.35)
      .filter(col("doc_id") =!= col("bench_id"))
      .select(col("doc_id"), col("bench_id"),
        floor(col("cos_sim") * 1e6).cast("long").as("cos_ppm"))
      .orderBy(col("doc_id"), col("bench_id"))
  }

  /** Best-fit-decreasing packing into 128-token windows over 8 id-hash
    * buckets — the fewer-truncations packing path (no document ever
    * splits, unlike t68's concat-and-chunk). BFD is not
    * SQL-expressible, so the whole (deterministic,
    * partitioning-independent) assignment table is literal-oracled. */
  private def t75BinPacking(s: SparkSession, dir: String): DataFrame =
    Packing.packBinsBFD(t(s, dir, "documents"), "doc_id",
        TextFunctions.tokenCount(col("text")), capacity = 128, nBuckets = 8)
      .orderBy(col("doc_id"))

  /** Near-containment ("quote detection"): corpus ∪ half-length copies
    * of the first 50 docs — each copy is contained in its original
    * (containment ≈ 1) while Jaccard ≈ 0.5 misses it; symmetric
    * near-dup pairs surface in both directions since C ≥ J always. */
  private def t76Containment(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val halves = d.filter(col("doc_id") < 50).select(
      (col("doc_id") + 200000).as("doc_id"),
      expr("substring(text, 1, cast(n_chars div 2 as int))").as("text"))
    val corpus = d.select(col("doc_id"), col("text")).unionByName(halves)
    Dedup.containmentPairs(corpus, "doc_id", "text", n = 3, threshold = 0.8)
      .select(col("a_id"), col("b_id"),
        floor(col("containment") * 1e6).cast("long").as("containment_ppm"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** The corpus-wide boilerplate phrase t122 injects — 12 words, short
    * enough that a carrier document's own text dominates its shingle
    * set (carrier-carrier containment stays ≈ 10/|sh| ≪ 0.8), long
    * enough that a quote doc (boilerplate + one unique word) is 10/11 ≈
    * 0.909-contained in every carrier. */
  private val containmentBoiler =
    "this page is licensed under the creative commons attribution share alike terms"

  /** Containment with the hot-shingle cap ENGAGED — the production-
    * scale form of t76 (the [[graft.llm.Dedup.winnowingPairs]] maxDf
    * pattern applied to the last uncapped pair generator). The corpus
    * is t76's (documents ∪ half-copies) plus a boilerplate injection
    * that makes the cap BITE at sf0.01: every third doc carries a
    * shared 12-word boilerplate trailer (df ≈ 170 ≫ maxDf = 16) and
    * five "quote" docs are ~91%-boilerplate — uncapped, each quote doc
    * is containment-matched to EVERY carrier (the df² candidate
    * pathology in miniature); capped, boilerplate shingles leave the
    * container index, the boilerplate-only pairs vanish, and the
    * genuinely-copied half→original pairs survive untouched (their
    * shingles have df ≈ 2). Capped ⊆ uncapped and equality-when-cold
    * are pinned in DedupSpec; oracle = literal rows from an sf0.01
    * run. */
  private def t122ContainmentCapped(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(t122Corpus(s, dir), "doc_id", "text",
        n = 3, threshold = 0.8, maxDf = 16)
      .select(col("a_id"), col("b_id"),
        floor(col("containment") * 1e6).cast("long").as("containment_ppm"))
      .orderBy(col("a_id"), col("b_id"))

  private def t122Corpus(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val carriers = d.select(col("doc_id"),
      when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" " + containmentBoiler))).otherwise(col("text"))
        .as("text"))
    val halves = d.filter(col("doc_id") < 50).select(
      (col("doc_id") + 200000).as("doc_id"),
      expr("substring(text, 1, cast(n_chars div 2 as int))").as("text"))
    val quotes = s.range(5).select(
      (col("id") + 300000).as("doc_id"),
      concat(lit(containmentBoiler), lit(" uniqword"), col("id")).as("text"))
    carriers.unionByName(halves).unionByName(quotes)
  }

  /** Incremental containment — the index/delta maintenance form
    * completing the family triple alongside winnowing (t121), MinHash
    * (t65) and exact (t64): corpus v1 (the original documents) is
    * shingled once into the persisted [[graft.llm.Dedup.containmentIndex]];
    * the delta batch carries the 50 half-copies as NEW docs plus
    * doc_id % 7 = 0 re-uploads with CHANGED text, and
    * [[graft.llm.Dedup.containmentDeltaPairs]] probes the index without
    * ever re-shingling the corpus. Equals the from-scratch rebuild
    * restricted to delta-touching pairs (pinned in DedupSpec, including
    * the capped case); oracle = literal rows from an sf0.01 run. */
  private def t123ContainmentDelta(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val corpus = d.select(col("doc_id"), col("text"))
    val halves = d.filter(col("doc_id") < 50).select(
      (col("doc_id") + 200000).as("doc_id"),
      expr("substring(text, 1, cast(n_chars div 2 as int))").as("text"))
    val revs = d.filter(col("doc_id") % 7 === 0).select(col("doc_id"),
      concat(col("text"), lit(" containment rev2 trailer")).as("text"))
    val delta = halves.unionByName(revs)
    Dedup.containmentDeltaPairs(delta, "doc_id", "text",
        Dedup.containmentIndex(corpus, "doc_id", "text", n = 3),
        n = 3, threshold = 0.8, maxDf = 16)
      .select(col("a_id"), col("b_id"),
        floor(col("containment") * 1e6).cast("long").as("containment_ppm"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Temperature-scaled (τ=½) source mixture over the documents table:
    * 30% overall keep rate, small sources upweighted ∝ √n. Every
    * threshold is derived with integer-exact arithmetic, so the DuckDB
    * twin reproduces membership bit-for-bit. */
  private def t77TemperatureMix(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.temperatureMixtureSample(
        t(s, dir, "documents"), "doc_id", "source", targetPpm = 300000L)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).cast("long").as("sum_chars"))
      .orderBy(col("source"))

  /** C4-style line-oriented cleaning. The sf corpus has no punctuation
    * or newlines, so (t71 device) the query synthesizes them
    * deterministically: even docs get 8-word sentence-lines, odd docs
    * 3-word lines (failing the ≥5-words line rule), and modular marker
    * lines inject lorem-ipsum / javascript / policy / curly-brace hits
    * — every page and line rule fires somewhere in the corpus. One
    * codegen'd scan — the line rules are higher-order array functions,
    * no explode, no shuffle. */
  private def t90C4Filter(s: SparkSession, dir: String): DataFrame = {
    val lineified = when(col("doc_id") % 2 === 0,
        regexp_replace(col("text"), "((?:\\S+\\s+){7}\\S+)\\s+", "$1.\n"))
      .otherwise(
        regexp_replace(col("text"), "((?:\\S+\\s+){2}\\S+)\\s+", "$1.\n"))
    val marked = concat(lineified,
      when(col("doc_id") % 97 === 0,
        lit("\nthis page contains lorem ipsum text.")).otherwise(lit("")),
      when(col("doc_id") % 89 === 0,
        lit("\njavascript is required here really today.")).otherwise(lit("")),
      when(col("doc_id") % 83 === 0,
        lit("\nsee our privacy policy for details.")).otherwise(lit("")),
      when(col("doc_id") % 79 === 0,
        lit("\nconfig { x } dump.")).otherwise(lit("")))
    val d = t(s, dir, "documents").withColumn("text", marked)
    TextAnalysis.c4Filter(d, "doc_id", "text")
      .select(col("doc_id"), col("n_lines"), col("n_lines_kept"),
        col("n_sentences"), col("reason"), col("keep"),
        length(col("text")).cast("long").as("clean_len"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic reshard: shard + dense in-shard position as pure
    * md5 functions of the key — same layout at any partitioning. */
  private def t91ShardAssign(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.assignShards(t(s, dir, "documents"), "doc_id", 8)
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("doc_id"))

  /** BM25 seed retrieval (Robertson–Zaragoza ranking, Lucene
    * non-negative idf): top-5 docs per query, query set derived from
    * the corpus itself (every 100th doc's first 5 normalized tokens —
    * short keyword queries that scale with sf). Per-(query, term, doc)
    * contributions are ppm-floored BEFORE the per-doc sum, so scores
    * are exact integer sums independent of partition count
    * ([[graft.llm.Retrieval]]'s engine-portability contract). */
  private def t92Bm25TopK(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{normalizeText, tokens}
    val d = t(s, dir, "documents")
    val q = d.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"),
        array_join(slice(tokens(normalizeText(col("text"))), 1, 5), " ").as("qtext"))
    graft.llm.Retrieval.bm25TopK(d, "doc_id", "text", q, "query_id", "qtext", k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Perplexity-bucket curriculum bins (CCNet-style): every document
    * binned into deciles of the unigram-LM score CDF — exact integer
    * binning over the bounded score histogram, no global corpus sort
    * ([[graft.operators.Sampling.cdfBins]]). */
  private def t98CurriculumBins(s: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis.unigramLogProbPpm(t(s, dir, "documents"),
      "doc_id", "text")
    graft.operators.Sampling.cdfBins(scored, "doc_id", "avg_logprob_ppm",
        nBins = 10)
      .orderBy(col("doc_id"))
  }

  /** BM25 over a PERSISTED postings index: build the (doc_id, term, tf)
    * index once, write it to parquet, read it back, and answer t92's
    * exact query set from the index alone — the offline-index /
    * online-query split that avoids re-tokenizing the corpus per query
    * set (and per side-aggregation) at scale. Output — and oracle —
    * identical to t92 by construction. */
  private def t97Bm25IndexRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{normalizeText, tokens}
    val d = t(s, dir, "documents")
    val out = scratch("bm25idx", dir)
    graft.llm.Retrieval.postings(d, "doc_id", "text")
      .write.mode("overwrite").parquet(out)
    val q = d.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"),
        array_join(slice(tokens(normalizeText(col("text"))), 1, 5), " ").as("qtext"))
    graft.llm.Retrieval.bm25TopKFromIndex(s.read.parquet(out),
        q, "query_id", "qtext", k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Incremental BM25 postings maintenance: v1 of the corpus
    * (doc_id % 5 ≠ 0, original text) is indexed and persisted; a delta
    * batch then lands carrying NEW documents (doc_id % 5 = 0) and
    * RE-UPLOADED revisions (doc_id % 7 = 0, text + " rev2"). The delta
    * tokenizes once, [[graft.llm.Retrieval.mergePostings]] upserts it
    * into the persisted index (broadcast anti-join on doc_id — the
    * corpus never re-tokenizes), and the merged index answers the t92
    * query set. Oracle: the from-scratch t92 SQL over the effective
    * post-delta corpus — incremental must equal rebuild exactly. */
  /** Fixture: the v1 postings index — the per-corpus-version PREBUILT
    * inverted index [[graft.llm.Retrieval.bm25TopKFromIndex]]'s doc
    * describes ("written to parquet once per corpus version") — so the
    * timed path is the OPERATIONAL incremental merge + query only (the
    * r17 fixture pattern; declared as a measurement change in
    * OPTIMIZATION_r21.md, build wall reported in fixture_build_sec). */
  private def t110Fixture(s: SparkSession, dir: String): Unit = {
    val d = t(s, dir, "documents")
    val v1 = d.filter(col("doc_id") % 5 =!= 0)
    val root = scratch("bm25idx_v1", dir)
    ensureFixture(root) {
      graft.llm.Retrieval.postings(v1, "doc_id", "text")
        .write.mode("overwrite").parquet(s"$root/idx")
    }
  }

  private def t110Bm25Incremental(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{normalizeText, tokens}
    t110Fixture(s, dir)
    val d = t(s, dir, "documents")
    val rev2 = when(col("doc_id") % 7 === 0,
      concat(col("text"), lit(" rev2"))).otherwise(col("text"))
    val idxPath = s"${scratch("bm25idx_v1", dir)}/idx"
    val delta = d.filter(col("doc_id") % 5 === 0 || col("doc_id") % 7 === 0)
      .withColumn("text", rev2)
    val merged = graft.llm.Retrieval.mergePostingsForDelta(
      s.read.parquet(idxPath), delta, "doc_id", "text")
    val q = d.withColumn("text", rev2).filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"),
        array_join(slice(tokens(normalizeText(col("text"))), 1, 5), " ").as("qtext"))
    graft.llm.Retrieval.bm25TopKFromIndex(merged, q, "query_id", "qtext", k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** The t97 roundtrip over the SCALE index layout: postings persisted
    * term-hash-bucketed ([[graft.llm.Retrieval.writeBm25Index]]) with
    * doclen/stats side tables, queries answered through the pruned
    * read path — the query batch's terms prune the postings scan to
    * their buckets instead of reading the whole index (the 100× online
    * path; ScaleSpec gates that the pruned scan reads a strict subset
    * of the index files). Oracle: identical to t97 — the layout must
    * be invisible in the result. */
  private def t119Bm25Pruned(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{normalizeText, tokens}
    val d = t(s, dir, "documents")
    val out = scratch("bm25idx_bkt", dir)
    graft.llm.Retrieval.writeBm25Index(
      graft.llm.Retrieval.postings(d, "doc_id", "text"), out, numBuckets = 16)
    val q = d.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"),
        array_join(slice(tokens(normalizeText(col("text"))), 1, 5), " ").as("qtext"))
    graft.llm.Retrieval.bm25TopKFromPrunedIndex(s, out, q, "query_id", "qtext", k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** BM25-seeded selection loop — the glue a real curation pipeline
    * runs between retrieval and the quality classifier: t92's BM25
    * top-5 per query becomes the POSITIVE seed, every non-retrieved doc
    * the negative, a hashed-NB classifier trains on that weak labeling
    * (one counting pass, ≤256-row model) and scores the whole corpus —
    * seed-expansion from a handful of domain queries to corpus-wide
    * integer scores. Both stages keep their ppm contracts, so the
    * composition is oracle-exact end to end. */
  private def t93Bm25SeedSelect(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{normalizeText, tokens}
    val d = t(s, dir, "documents")
    val q = d.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"),
        array_join(slice(tokens(normalizeText(col("text"))), 1, 5), " ").as("qtext"))
    val seed = graft.llm.Retrieval
      .bm25TopK(d, "doc_id", "text", q, "query_id", "qtext", k = 5)
      .select(col("doc_id")).distinct().withColumn("y", lit(true))
    val labeled = d.join(seed, Seq("doc_id"), "left")
      .withColumn("y", coalesce(col("y"), lit(false)))
    val model = graft.llm.Classifier.nbTrain(labeled, "doc_id", "text", "y", nBuckets = 256)
    val prior = graft.llm.Classifier.nbPriorPpm(labeled, "y")
    graft.llm.Classifier.nbScore(d, model, prior, "doc_id", "text", nBuckets = 256)
      .orderBy(col("doc_id"))
  }

  /** Retrieve→rerank loop ([[graft.llm.Retrieval.rerank]]) — the stage
    * a curation pipeline runs between cheap recall and selection: BM25
    * pulls a k=20 shortlist per query, the t93 weak-label hashed-NB
    * scorer (seed = BM25 top-5) re-scores the CORPUS, and the shortlist
    * is reordered by NB score to a final top-5 — both stages keep their
    * integer-ppm contracts, so the composed loop is oracle-exact. At
    * scale the shortlist broadcasts against the score frame. The
    * |Q|·20-row shortlist is localCheckpointed (the t119 idiom): it
    * feeds BOTH the seed and the rerank join, and re-evaluating its
    * lineage would run the full BM25 chain twice; the blocks are
    * dropped by the context cleaner when the result goes out of
    * scope. */
  private def t124Bm25Rerank(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{normalizeText, tokens}
    val d = t(s, dir, "documents")
    val q = d.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"),
        array_join(slice(tokens(normalizeText(col("text"))), 1, 5), " ").as("qtext"))
    val shortlist = graft.llm.Retrieval
      .bm25TopK(d, "doc_id", "text", q, "query_id", "qtext", k = 20)
      .ckpt()
    val seed = shortlist.filter(col("rank") <= 5)
      .select(col("doc_id")).distinct().withColumn("y", lit(true))
    val labeled = d.join(seed, Seq("doc_id"), "left")
      .withColumn("y", coalesce(col("y"), lit(false)))
    val model = graft.llm.Classifier.nbTrain(labeled, "doc_id", "text", "y", nBuckets = 256)
    val prior = graft.llm.Classifier.nbPriorPpm(labeled, "y")
    val scores = graft.llm.Classifier
      .nbScore(d, model, prior, "doc_id", "text", nBuckets = 256)
      .select(col("doc_id"), col("score_ppm").as("nb_ppm"))
    graft.llm.Retrieval.rerank(shortlist, scores, "nb_ppm", k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Temperature-mix WATERFILL: a 10-doc `a_tiny` source saturates in
    * round 1 (its √n-share is ~2.3× its size) and keeps all its rows;
    * the surplus re-divides over the three equal big sources in round 2,
    * which saturates nothing — at ANY scale factor, since the big
    * sources stay equal-sized — so the 2-round-unrolled oracle SQL
    * reproduces the Scala loop's integer derivation exactly. */
  private def t80MixtureWaterfill(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").withColumn("mix_src",
      when(col("doc_id") < 10, lit("a_tiny"))
        .otherwise(concat(lit("src"), (col("doc_id") % 3).cast("string"))))
    graft.operators.Sampling.temperatureMixtureSample(d, "doc_id", "mix_src",
        targetPpm = 600000L)
      .groupBy(col("mix_src"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).cast("long").as("sum_chars"))
      .orderBy(col("mix_src"))
  }

  /** Unigram LM quality scoring (CCNet-class perplexity signal, LM =
    * the corpus's own unigram distribution). Per-token log₂-probs are
    * ppm-floored BEFORE summation, so the doc score is an exact
    * integer sum; avg uses trunc-toward-zero division (Spark DIV),
    * mirrored in the oracle. */
  private def t78UnigramLogprob(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.unigramLogProbPpm(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Index-scrub decontamination: the corpus scrubbed against a
    * PERSISTED benchmark gram index (union semantics, minShared = 2 —
    * contrast t63's per-(doc, bench) attribution). This is the batch
    * kernel [[graft.streaming.DecontaminateStream]] applies per
    * micro-batch on the continuous-intake path. */
  private def t81IndexScrub(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val idx = graft.llm.Decontaminate.benchGramIndex(
      d.filter(col("doc_id") % 50 === 0), "text", n = 8)
    graft.llm.Decontaminate.scrubAgainstGramIndex(d, "doc_id", "text", idx,
        n = 8, minShared = 2)
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Span-level decontamination
    * ([[graft.llm.Decontaminate.scrubContaminatedSpans]]): the t81
    * bench's leaked 8-gram windows are REMOVED from each document
    * instead of dropping the whole doc — the data-preserving transform
    * (bench docs themselves scrub to empty: total self-overlap). */
  private def t116DecontaminateSpans(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val idx = graft.llm.Decontaminate.benchGramIndex(
      d.filter(col("doc_id") % 50 === 0), "text", n = 8)
    graft.llm.Decontaminate.scrubContaminatedSpans(d, "doc_id", "text", idx, n = 8)
      .orderBy(col("doc_id"))
  }

  /** Semi-structured VARIANT columns (Spark 4 `parse_json` /
    * `variant_get`): ingest schemaless JSON (the shape crawl metadata
    * and API sidecars arrive in), extract typed fields, nested paths,
    * array elements, and a missing path (NULL, via `try_variant_get`).
    * Variant's binary encoding beats schema-on-read string JSON at
    * scale — parse once, extract many — and the path extraction stays
    * in codegen. Oracle: DuckDB JSON-path twin over identically
    * constructed JSON (cross-engine path semantics, not a tautology). */
  private def t117VariantExtract(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val j = d.select(col("doc_id"),
      to_json(struct(col("source"), col("lang"),
        col("n_chars").cast("long").as("n_chars"),
        struct(col("doc_id").as("id"), (col("doc_id") % 7).as("bucket")).as("meta"),
        array(col("n_chars").cast("long"),
          (col("n_chars") * 2).cast("long")).as("arr"))).as("js"))
    j.select(col("doc_id"), parse_json(col("js")).as("v"))
      .select(col("doc_id"),
        variant_get(col("v"), "$.source", "string").as("source"),
        variant_get(col("v"), "$.n_chars", "long").as("n_chars"),
        variant_get(col("v"), "$.meta.bucket", "long").as("bucket"),
        variant_get(col("v"), "$.arr[1]", "long").as("arr1"),
        try_variant_get(col("v"), "$.missing", "string").as("missing"))
      .orderBy(col("doc_id"))
  }

  /** VARIANT shredding over HETEROGENEOUS sidecar batches — the
    * crawl-metadata report a data card needs. Three shape classes
    * (web/pdf/img) serialize to JSON, parse to VARIANT, and shred two
    * ways: tag arrays explode row-wise through the `variant_explode`
    * TVF (a doc without tags contributes nothing — `try_variant_get`
    * yields NULL and the lateral join drops it), and each kind's merged
    * shape comes from `schema_of_variant_agg`. Identical shapes merge
    * to themselves, so the agg string is deterministic and the DuckDB
    * twin pins it as a literal while re-walking the same JSON for the
    * tag counts. Scale shape: parse/extract are per-row expressions,
    * the explode is a generator (no shuffle), and both reports are one
    * thin hash aggregate each. */
  private def t118VariantShred(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val js = when(col("doc_id") % 3 === 0,
        to_json(struct(lit("web").as("kind"),
          struct((lit(200) + col("doc_id") % 5).cast("long").as("status"),
            (col("n_chars") % 50).cast("long").as("url_len")).as("http"),
          array(concat(lit("s:"), col("source")), concat(lit("l:"), col("lang")),
            concat(lit("s:"), col("source"))).as("tags"))))
      .when(col("doc_id") % 3 === 1,
        to_json(struct(lit("pdf").as("kind"),
          (col("n_chars") % 20).cast("long").as("pages"),
          array(concat(lit("s:"), col("source"))).as("tags"))))
      .otherwise(
        to_json(struct(lit("img").as("kind"),
          struct((col("n_chars") % 640).cast("long").as("w"),
            (col("n_chars") % 480).cast("long").as("h")).as("image"))))
    d.select(col("doc_id"), parse_json(js).as("v"))
      .createOrReplaceTempView("graft_t118_v")
    val tagRows = s.sql(
      """SELECT variant_get(v, '$.kind', 'string') AS kind,
                CAST(value AS STRING) AS tag,
                count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
         FROM graft_t118_v,
              LATERAL variant_explode(try_variant_get(v, '$.tags'))
         GROUP BY 1, 2""")
    val schemaRows = s.sql(
      """SELECT variant_get(v, '$.kind', 'string') AS kind,
                concat('schema:', schema_of_variant_agg(v)) AS tag,
                count(*) AS n_docs, count(*) AS n_occ
         FROM graft_t118_v GROUP BY 1""")
    tagRows.unionAll(schemaRows).orderBy(col("kind"), col("tag"))
  }

  /** Bigram-LM quality scoring (add-one smoothed, integer-exact) — the
    * context-aware sibling of t78; same ppm-floor contract. */
  private def t84BigramLogprob(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramLogProbPpm(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Product-quantization ANN graded against brute-force L2 (the t49
    * pattern, L2 because ADC approximates Euclidean distance): per
    * query, how many of the true top-10 the 8×16 codebook + 4× exact
    * re-rank recovered. Deterministic — subspace k-means accumulates
    * in decimal, argmin and rank ties break on code/neighbor id, exact
    * re-rank distances are pure per-row functions — so the recall
    * table literal-oracle-checks; the exact-recovery gate (ksub = n ⇒
    * PQ == brute) lives in SimilaritySpec. */
  private def t83KnnPq(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 20)
    val ann = Similarity.pqTopK(e, q, "vec_id", "embedding",
      k = 10, m = 8, ksub = 16, iters = 2, refine = 4)
    val brute = Similarity.bruteTopKL2(e, q, "vec_id", "embedding", k = 10)
    Similarity.recallAtK(ann, brute).orderBy(col("query_id"))
  }

  /** Line-level boilerplate dedup (RefinedWeb §3.3): the flat synthetic
    * docs are re-lined into 8-token lines (same regex both engines),
    * then lines occurring in ≥ 3 distinct docs are stripped from all of
    * them. Exact-dup doc groups (t25) guarantee non-trivial frequent
    * lines at every sf. */
  private def t82LineDedup(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .withColumn("text",
        regexp_replace(col("text"), "((?:\\S+\\s+){7}\\S+)\\s+", "$1\n"))
    graft.llm.Dedup.stripBoilerplate(d, "doc_id", "text", minDocs = 3)
      .select(col("doc_id"), col("n_lines_dropped"),
        length(col("text")).cast("long").as("clean_len"))
      .orderBy(col("doc_id"))
  }

  /** DSIR importance resampling (arXiv:2302.03169): top-20 documents by
    * Gumbel-perturbed importance weight toward the `lang = 'en'` target
    * sample, over 4096 hashed-bigram buckets. Weights and Gumbel keys
    * are ppm-floored integers derived from md5 — fully re-derivable by
    * the oracle. */
  private def t85DsirSample(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    graft.llm.Dsir.select(d, d.filter(col("lang") === "en"), "doc_id", "text",
      nBuckets = 4096, k = 20)
  }

  /** FastText-class quality classifier (hashed-ngram Naive Bayes,
    * arXiv:1607.01759): seed label = doc mentions 'spark' more often
    * than 'hash' (a content-derived weak label the synthetic corpus
    * actually carries — metadata labels are uncorrelated with its
    * word-salad text); train on the whole corpus, score every doc.
    * 0.85 train accuracy vs the 0.66 majority baseline at sf0.01 —
    * the separation gate lives in ClassifierSpec on a clean synthetic
    * seed. */
  private def t86QualityClassifier(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{normalizeText, tokens}
    val d = t(s, dir, "documents")
    def toks = tokens(normalizeText(col("text")))
    val labeled = d.withColumn("y",
      size(filter(toks, x => x === "spark")) > size(filter(toks, x => x === "hash")))
    val model = graft.llm.Classifier.nbTrain(labeled, "doc_id", "text", "y", nBuckets = 256)
    val prior = graft.llm.Classifier.nbPriorPpm(labeled, "y")
    graft.llm.Classifier.nbScore(d, model, prior, "doc_id", "text", nBuckets = 256)
      .orderBy(col("doc_id"))
  }

  /** Trainable char-trigram NB language ID ([[graft.llm.LangIdNb]]):
    * train on the documents table's own lang labels, classify every
    * doc. The synthetic corpus's text is label-uncorrelated word salad,
    * so predictions land near the prior — the REAL separation evidence
    * lives in LangIdSpec's multilingual fixture; this query pins the
    * end-to-end train→classify plan shape and the exact integer ppm
    * contract against the oracle. */
  private def t94LangIdNb(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val model = graft.llm.LangIdNb.train(d, "text", "lang", n = 3, nBuckets = 1024)
    graft.llm.LangIdNb.classify(d, model, "doc_id", "text", n = 3, nBuckets = 1024)
      .join(d.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"), col("pred_lang"), col("score_ppm"))
      .orderBy(col("doc_id"))
  }

  /** Cross-document repeated-substring spans (arXiv:2107.06499 by
    * rolling 8-token window hashing): per doc, duplicated-window counts
    * and merged span coverage. The corpus's exact/near-dup groups (t25,
    * t26) guarantee non-trivial shared windows at every sf. */
  private def t87DupSpans(s: SparkSession, dir: String): DataFrame =
    graft.llm.Dedup.dupSpanStats(t(s, dir, "documents"), "doc_id", "text",
        k = 8, minDocs = 2)
      .orderBy(col("doc_id"))

  /** Exact-substring span removal (the transform t87 only reports on):
    * duplicated 8-token windows keep their text in the min-id canonical
    * doc and are scrubbed everywhere else. */
  private def t95ScrubDupSpans(s: SparkSession, dir: String): DataFrame =
    graft.llm.Dedup.scrubDupSpans(t(s, dir, "documents"), "doc_id", "text",
        k = 8, minDocs = 2)
      .orderBy(col("doc_id"))

  /** End-to-end curation pipeline — the staged keep/drop decision a
    * real pretraining corpus goes through, with first-fail reasons
    * (the t90 convention): (1) length gate, (2) repetition gate (any
    * duplicated 3-gram), (3) exact dedup keeping the min-id canonical
    * among stage-1/2 SURVIVORS, (4) 8-gram benchmark decontamination
    * of the remaining docs (every-50th-doc eval stand-in, the t63
    * set). Later stages only see earlier survivors — the staging
    * matters (a filtered-out doc must not claim a dedup canonical
    * slot), and the oracle replicates it stage for stage.
    *
    * Scale shape: stages 1–3 are one thin (id, n_tokens, rep_ppm, fp)
    * projection, a fingerprint groupBy, and a fp-join back; stage 4 is
    * [[graft.llm.Decontaminate.overlapGramCount]]'s broadcast-membership
    * scan. Text is scanned, never shuffled; every verdict is a
    * deterministic integer/flag. */
  private def t96CurationPipeline(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    graft.llm.Curation.stagedVerdicts(d, "doc_id", "text",
        bench = d.filter(col("doc_id") % 50 === 0), benchTextCol = "text",
        minTokens = 20, maxRepPpm = 0L, n = 8)
      .orderBy(col("doc_id"))
  }

  /** The END-TO-END curation job ([[graft.llm.Curation.fullPipelineLedger]]):
    * near-dup survivors (keep longest) → benchmark decontamination
    * (%50 bench, ≥2 shared 8-grams) → unigram-LM quality floor →
    * temperature mix (τ=½, 30%) → BFD packing, reported as a first-fail
    * verdict ledger over every input doc. The packer runs for real;
    * 'packed' asserts exactly-one bin assignment (conservation), so the
    * oracle hash would catch a lost/duplicated doc. Bin-level detail is
    * CurationSpec's (BFD is not SQL-expressible).
    *
    * Oracle note (stage 4): the mix quotas here resolve in ONE waterfill
    * round — no source saturates (quota ≪ n for every source at τ=½ /
    * 30% on near-balanced sources), so the single-round SQL twin is
    * exact; CurationSpec pins the no-saturation precondition. */
  private def t128CurationE2e(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    graft.llm.Curation.fullPipelineLedger(d, "doc_id", "text",
        scoreCol = "n_chars", sourceCol = "source",
        bench = d.filter(col("doc_id") % 50 === 0), benchTextCol = "text")
      .orderBy(col("doc_id"))
  }

  /** [[t128CurationE2e]] as the DAILY BATCH a 100 TB deployment runs:
    * the corpus arrives in two installments; the first builds the
    * persisted curation state ([[graft.llm.Curation.buildState]] —
    * thin scalars, shingle index, near-dup pairs, clean set, LM
    * census, gram index — all parquet round-tripped here, the honest
    * persisted path), and the second flows through
    * [[graft.llm.Curation.fullPipelineLedgerDelta]]: delta-bounded
    * TEXT compute (only the delta is shingled / scrubbed / censused;
    * pairs grow by [[graft.llm.Dedup.jaccardDeltaPairs]] against the
    * stored index) while survivorship, the LM model shift, quotas and
    * packing re-derive globally from THIN frames. The oracle IS
    * t128's full-rebuild DuckDB twin verbatim: incremental execution
    * changes what is scanned, never the ledger (delta == rebuild,
    * pinned frame-equal in CurationSpec). */
  private def t133CurationDelta(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val old = d.filter(col("doc_id") % 4 =!= 3)
    val delta = d.filter(col("doc_id") % 4 === 3)
    val bench = d.filter(col("doc_id") % 50 === 0)
    val root = scratch("curstate", dir)
    val st = graft.llm.Curation.buildState(old, "doc_id", "text",
      "n_chars", "source", bench, "text")
    // six independent state-frame writes of one build, overlapped
    // (guide §2.6 — the r20 store-commit pattern applied to the in-body
    // state persist); the reads-back stay sequential metadata work
    def rt(df: DataFrame, name: String): () => Unit =
      () => df.write.mode("overwrite").parquet(s"$root/$name")
    graft.util.Par.runUnit(Seq(rt(st.thin, "thin"),
      rt(st.shingles, "shingles"), rt(st.pairs, "pairs"),
      rt(st.cleanIds, "clean"), rt(st.census, "census"),
      rt(st.gramIndex, "grams")))
    val persisted = graft.llm.Curation.State(s.read.parquet(s"$root/thin"),
      s.read.parquet(s"$root/shingles"), s.read.parquet(s"$root/pairs"),
      s.read.parquet(s"$root/clean"), s.read.parquet(s"$root/census"),
      s.read.parquet(s"$root/grams"))
    graft.llm.Curation.fullPipelineLedgerDelta(persisted, delta,
        "doc_id", "text", "n_chars", "source")
      .orderBy(col("doc_id"))
  }

  /** [[t133CurationDelta]] where the daily batch RE-UPLOADS existing
    * docs — the reference's versioned-snapshot intake (SURVEY.md P3:
    * every table arrives as strict-`>` versioned re-uploads) applied to
    * the curation layer: the persisted state is built over a corpus
    * whose doc_id%4==3 docs carry an obsolete draft text, and the delta
    * re-uploads those SAME ids with their true text.
    * [[graft.llm.Curation.mergeState]]'s replace semantics displace the
    * stale rows from every state frame (thin, shingles, pairs touching
    * a replaced id, clean set, census), so the delta ledger must equal
    * the full rebuild over the TRUE corpus — the oracle is t128's
    * DuckDB twin over `documents` verbatim: a driver-checked proof that
    * a re-upload leaves zero stale residue in the persisted state. */
  private def t134CurationReplace(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val old = d.withColumn("text",
      when(col("doc_id") % 4 === 3,
        concat(lit("obsolete draft placeholder revision "),
          substring(col("text"), 1, 48)))
        .otherwise(col("text")))
    val delta = d.filter(col("doc_id") % 4 === 3)
    val bench = d.filter(col("doc_id") % 50 === 0)
    val root = scratch("curreplace", dir)
    val st = graft.llm.Curation.buildState(old, "doc_id", "text",
      "n_chars", "source", bench, "text")
    // six independent state-frame writes, overlapped (guide §2.6)
    def rt(df: DataFrame, name: String): () => Unit =
      () => df.write.mode("overwrite").parquet(s"$root/$name")
    graft.util.Par.runUnit(Seq(rt(st.thin, "thin"),
      rt(st.shingles, "shingles"), rt(st.pairs, "pairs"),
      rt(st.cleanIds, "clean"), rt(st.census, "census"),
      rt(st.gramIndex, "grams")))
    val persisted = graft.llm.Curation.State(s.read.parquet(s"$root/thin"),
      s.read.parquet(s"$root/shingles"), s.read.parquet(s"$root/pairs"),
      s.read.parquet(s"$root/clean"), s.read.parquet(s"$root/census"),
      s.read.parquet(s"$root/grams"))
    graft.llm.Curation.fullPipelineLedgerDelta(persisted, delta,
        "doc_id", "text", "n_chars", "source")
      .orderBy(col("doc_id"))
  }

  /** The SQL surface for the flagship dedup operator: the IDENTICAL
    * distributed plan as t26 (prefix-filtered, df-capped, exact-
    * verified [[Dedup.jaccardNearDupPairs]]), reached from a PURE SQL
    * string via the `graft_neardup_pairs` Catalyst table function
    * ([[graft.functions.GraftTableFunctions]]) — the reference's
    * analyst-facing query capability (SQL over curated tables,
    * SURVEY.md §3) extended to the curation layer. Oracle: t26's
    * DuckDB twin verbatim (the surface changes how the plan is
    * NAMED, never the plan). */
  private def t135SqlNeardup(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftTableFunctions.register(s)
    s.sql(
      s"""SELECT a_id, b_id,
            CAST(floor(jaccard * 1000000.0) AS BIGINT) AS jaccard_ppm
          FROM graft_neardup_pairs('$dir/documents.parquet', 'doc_id', 'text', 3, 0.8)
          ORDER BY a_id, b_id""")
  }

  /** SQL surface for BM25 retrieval: t92's exact query set (every
    * doc_id%100==0 doc's first five tokens), written once to parquet,
    * then ranked from a pure SQL string via `graft_bm25_topk`. Same
    * operator, same plan, same oracle as t92. */
  private def t136SqlBm25(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{normalizeText, tokens}
    graft.functions.GraftTableFunctions.register(s)
    val root = scratch("sqlbm25q", dir)
    t(s, dir, "documents").filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"),
        array_join(slice(tokens(normalizeText(col("text"))), 1, 5), " ").as("qtext"))
      .write.mode("overwrite").parquet(s"$root/queries")
    s.sql(
      s"""SELECT query_id, doc_id, score_ppm, rank
          FROM graft_bm25_topk('$dir/documents.parquet', 'doc_id', 'text',
                               '$root/queries', 'query_id', 'qtext', 5)
          ORDER BY query_id, rank""")
  }

  /** SQL surface for the composed curation pipeline: t128's five-stage
    * first-fail ledger (keep-best near-dup → gram decontamination → LM
    * quality floor → temperature mix → BFD packing) from a pure SQL
    * string via `graft_curation_ledger`. The bench split is written to
    * parquet first (a table function takes table ARGUMENTS as paths —
    * the view-definition discipline). Oracle: t128's DuckDB twin
    * verbatim. */
  private def t137SqlCuration(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftTableFunctions.register(s)
    val root = scratch("sqlcurbench", dir)
    t(s, dir, "documents").filter(col("doc_id") % 50 === 0)
      .write.mode("overwrite").parquet(s"$root/bench")
    s.sql(
      s"""SELECT doc_id, n_tokens, verdict
          FROM graft_curation_ledger('$dir/documents.parquet', 'doc_id', 'text',
                                     'n_chars', 'source', '$root/bench', 'text')
          ORDER BY doc_id""")
  }

  /** SQL surface for the persisted graph-ANN deployment path: an
    * [[graft.llm.AnnIndexStore]] is built once (t129's exact scenario —
    * nCells=16, iters=2, m=8, efConstruction=48 over the full corpus),
    * then top-k retrieval runs from a PURE SQL string via
    * `graft_ann_topk` against the store's CURRENT committed version
    * (probe-bounded bucket reads, graphs reconstructed from the stored
    * adjacency). The emitted recall-vs-brute census must equal t129's
    * literal oracle: the stored-adjacency search is pinned bit-equal to
    * the one-call [[graft.llm.GraphAnn.nswTopK]] (GraphAnnSpec), and
    * the SQL surface only renames the plan. */
  private def t138SqlAnn(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftTableFunctions.register(s)
    val e = t(s, dir, "embeddings")
    val root = scratch("sqlann", dir)
    if (graft.fs.Fs.exists(root)) graft.fs.Fs.deleteRecursive(root)
    // multiAssign = 1 EXPLICITLY: this query pins t129's exact
    // single-assign scenario through the SQL surface (its oracle is
    // t129's literal); the store default is 2
    graft.llm.AnnIndexStore.build(s, e, "vec_id", "embedding",
      s"$root/store", graft.llm.AnnIndexStore.Params(multiAssign = 1))
    e.filter(col("vec_id") < 20).write.mode("overwrite").parquet(s"$root/queries")
    val ann = s.sql(
      s"""SELECT query_id, neighbor_id
          FROM graft_ann_topk('$root/store', '$root/queries', 'vec_id', 'embedding',
                              10, 8, 48)""")
    val brute = Similarity.bruteTopK(e, e.filter(col("vec_id") < 20),
      "vec_id", "embedding", k = 10)
    Similarity.recallAtK(ann, brute, floorPpm = 500000L).orderBy(col("query_id"))
  }

  /** Multi-batch curation state maintenance: the state is built once,
    * then absorbs TWO daily batches in sequence — each merge landing on
    * parquet before the next reads it back (exactly how a deployment
    * composes days) — with the second batch MIXING new ids and
    * re-uploads (the %9==0 drafts arrive corrected). The final ledger
    * must equal t128's full rebuild over the true corpus: pins that
    * [[graft.llm.Curation.mergeState]] composes across batches AND
    * serialization boundaries — merge(merge(build(b0), d1), d2) ==
    * build(b0 ∪ d1 ∪ d2-post-replace) — not just the single-merge
    * contract of t133/t134. */
  private def t139Frames(s: SparkSession, dir: String) = {
    val d = t(s, dir, "documents")
    val b0 = d.filter(col("doc_id") % 3 === 0).withColumn("text",
      when(col("doc_id") % 9 === 0,
        concat(lit("obsolete draft placeholder revision "),
          substring(col("text"), 1, 48)))
        .otherwise(col("text")))
    val d1 = d.filter(col("doc_id") % 3 === 1)
    val d2 = d.filter(col("doc_id") % 3 === 2 || col("doc_id") % 9 === 0)
    val bench = d.filter(col("doc_id") % 50 === 0)
    (b0, d1, d2, bench)
  }

  private def t139ReadState(s: SparkSession, day: String): graft.llm.Curation.State =
    graft.llm.Curation.State(s.read.parquet(s"$day/thin"),
      s.read.parquet(s"$day/shingles"), s.read.parquet(s"$day/pairs"),
      s.read.parquet(s"$day/clean"), s.read.parquet(s"$day/census"),
      s.read.parquet(s"$day/grams"))

  /** Fixture: day-0 build + day-1 merge persisted under the scratch
    * root — the ledger state a deployment carries into the day-2 batch. */
  private def t139Fixture(s: SparkSession, dir: String): Unit = {
    val (b0, d1, _, bench) = t139Frames(s, dir)
    val root = scratch("curmulti", dir)
    ensureFixture(root) {
      def rt(st: graft.llm.Curation.State, day: String): graft.llm.Curation.State = {
        def w(df: DataFrame, name: String): DataFrame = {
          df.write.mode("overwrite").parquet(s"$root/$day/$name")
          s.read.parquet(s"$root/$day/$name")
        }
        graft.llm.Curation.State(w(st.thin, "thin"), w(st.shingles, "shingles"),
          w(st.pairs, "pairs"), w(st.cleanIds, "clean"), w(st.census, "census"),
          w(st.gramIndex, "grams"))
      }
      val st0 = rt(graft.llm.Curation.buildState(b0, "doc_id", "text",
        "n_chars", "source", bench, "text"), "day0")
      rt(graft.llm.Curation.mergeState(st0, d1,
        "doc_id", "text", "n_chars", "source"), "day1"): Unit
    }
  }

  private def t139CurationMultibatch(s: SparkSession, dir: String): DataFrame = {
    t139Fixture(s, dir)
    val (_, _, d2, _) = t139Frames(s, dir)
    val st1 = t139ReadState(s, s"${scratch("curmulti", dir)}/day1")
    graft.llm.Curation.fullPipelineLedgerDelta(st1, d2,
        "doc_id", "text", "n_chars", "source")
      .orderBy(col("doc_id"))
  }

  /** The PERSISTED near-dup index end to end
    * ([[graft.llm.Dedup.writeNearDupIndex]] /
    * [[graft.llm.Dedup.jaccardDeltaPairsIndexed]]): the %4==3 daily
    * batch probes a prefix/sets PrunedIndex built over the rest of the
    * corpus — per-batch work is delta-bounded END TO END (delta text
    * compute + bucket-pruned index reads + a broadcast candidate join;
    * no per-batch df re-aggregation, no corpus re-explosion, no
    * full-index shuffle — the scale gap t133's jaccardDeltaPairs still
    * had). Build-time pairs ∪ indexed delta pairs must equal the
    * from-scratch t26 self-join — its DuckDB twin verbatim. */
  private def t140NeardupIndexed(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val old = d.filter(col("doc_id") % 4 =!= 3)
    val delta = d.filter(col("doc_id") % 4 === 3)
    val root = scratch("ndidx", dir)
    if (graft.fs.Fs.exists(root)) graft.fs.Fs.deleteRecursive(root)
    graft.llm.Dedup.writeNearDupIndex(s, old, "doc_id", "text", s"$root/idx")
    val oldPairs = Dedup.jaccardNearDupPairs(old, "doc_id", "text")
    val deltaPairs = graft.llm.Dedup.jaccardDeltaPairsIndexed(s, s"$root/idx",
      delta, "doc_id", "text")
    oldPairs.unionByName(deltaPairs)
      .select(col("a_id"), col("b_id"),
        floor(col("jaccard") * 1e6).cast("long").as("jaccard_ppm"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** [[t134CurationReplace]] over the INDEXED curation state
    * ([[graft.llm.Curation.IndexedState]] — four THIN parquet frames +
    * the persisted near-dup index): the same re-upload batch flows
    * through [[graft.llm.Curation.fullPipelineLedgerDeltaIndexed]],
    * whose stage-1 pair maintenance probes the index delta-bounded end
    * to end (t140's path) instead of re-shuffling the merged shingle
    * frame. Identical ledger semantics — t128's DuckDB twin over the
    * true corpus applies verbatim; zero stale residue after the replace
    * is driver-hash-checked. */
  /** Fixture: the indexed curation state (four thin frames + the
    * near-dup index store) built over the pre-delta corpus. Each timed
    * run commits one more store version with the batch appended; the
    * probe is order-independent with that append, so re-running the
    * batch against the already-advanced store yields the identical
    * ledger (the contract CurationSpec pins). */
  private def t141Fixture(s: SparkSession, dir: String): Unit = {
    val d = t(s, dir, "documents")
    val old = d.withColumn("text",
      when(col("doc_id") % 4 === 3,
        concat(lit("obsolete draft placeholder revision "),
          substring(col("text"), 1, 48)))
        .otherwise(col("text")))
    val bench = d.filter(col("doc_id") % 50 === 0)
    val root = scratch("curidx", dir)
    ensureFixture(root) {
      val st = graft.llm.Curation.buildStateIndexed(s, old, "doc_id", "text",
        "n_chars", "source", bench, "text", s"$root/idx")
      def rt(df: DataFrame, name: String): Unit = {
        df.write.mode("overwrite").parquet(s"$root/$name"): Unit
      }
      rt(st.thin, "thin"); rt(st.pairs, "pairs"); rt(st.cleanIds, "clean")
      rt(st.census, "census"); rt(st.gramIndex, "grams")
    }
  }

  private def t141CurationIndexed(s: SparkSession, dir: String): DataFrame = {
    t141Fixture(s, dir)
    val d = t(s, dir, "documents")
    val delta = d.filter(col("doc_id") % 4 === 3)
    val root = scratch("curidx", dir)
    val persisted = graft.llm.Curation.IndexedState(
      s.read.parquet(s"$root/thin"), s.read.parquet(s"$root/pairs"),
      s.read.parquet(s"$root/clean"), s.read.parquet(s"$root/census"),
      s.read.parquet(s"$root/grams"))
    graft.llm.Curation.fullPipelineLedgerDeltaIndexed(s, persisted,
        s"$root/idx", delta, "doc_id", "text", "n_chars", "source")
      .orderBy(col("doc_id"))
  }

  /** The VERSIONED near-dup index store end to end
    * ([[graft.llm.NearDupIndexStore]]): v1 builds over half the corpus,
    * TWO daily batches then flow through probe→append — the second
    * batch probes a STITCHED version (v2 references v1's untouched
    * bucket files by absolute path; write I/O was delta-bounded) behind
    * one atomic `_CURRENT` swap per batch (no torn prefix/sets view).
    *
    * OPERATIONAL path only (r17 bench hygiene): the output is the two
    * batches' probe pairs — exactly the pairs touching a batch id
    * (probe 1's pairs live inside v1∪b1, so the two sets are disjoint)
    * — against t26's DuckDB twin RESTRICTED to odd-id-touching pairs.
    * The r16 form also re-ran the v1 corpus self-join in-query to
    * reconstruct the full t26 set; that build-time pair computation
    * happens once per corpus version operationally, and its semantics
    * are already t26's own gate. */
  /** Fixture: v1 over the even half + batch 1 absorbed (the stitched
    * v2 the second probe reads). Probing batch 1 AFTER its own append
    * is answer-identical to probing before it (order independence,
    * pinned in NearDupIndexStoreSpec), so the timed path is the two
    * operational probes only. */
  private def t142Fixture(s: SparkSession, dir: String): Unit = {
    import graft.llm.NearDupIndexStore
    val d = t(s, dir, "documents")
    val root = scratch("ndstore", dir)
    ensureFixture(root) {
      NearDupIndexStore.build(s,
        d.filter(col("doc_id") % 2 === 0), "doc_id", "text", root)
      NearDupIndexStore.appendDelta(s, root,
        d.filter(col("doc_id") % 4 === 1), "doc_id", "text"): Unit
    }
  }

  private def t142NeardupStore(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.NearDupIndexStore
    t142Fixture(s, dir)
    val d = t(s, dir, "documents")
    val b1 = d.filter(col("doc_id") % 4 === 1)
    val b2 = d.filter(col("doc_id") % 4 === 3)
    val root = scratch("ndstore", dir)
    // both probes read the SAME committed version (no append between
    // them) — independent, overlapped (guide §2.6)
    val ps = graft.util.Par.run(Seq(
      () => NearDupIndexStore.pairsForDelta(s, root, b1, "doc_id", "text")
        .ckpt(),
      () => NearDupIndexStore.pairsForDelta(s, root, b2, "doc_id", "text")
        .ckpt()))
    ps(0).unionByName(ps(1))
      .select(col("a_id"), col("b_id"),
        floor(col("jaccard") * 1e6).cast("long").as("jaccard_ppm"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** [[t123ContainmentDelta]]'s EXACT scenario (half-prefix quotes +
    * re-uploaded revisions, maxDf=16) through the persisted UNIFIED
    * dedup index ([[graft.llm.Dedup.writeContainmentIndex]] /
    * [[graft.llm.Dedup.containmentDeltaPairsIndexed]]): per-batch cost
    * drops from t123's corpus-wide df re-aggregation + postings
    * re-explosion + full-index joins to delta text compute +
    * bucket-pruned reads + broadcast joins + an O(head + touched)
    * driver-side census-head merge (no census scan since r18) —
    * and the pair set is bit-for-bit the batch algorithm's (the census
    * updates to exact post-delta counts, the head re-derives with the
    * same top-K/ties, the cap applies per probed shingle), so t123's
    * literal oracle applies verbatim. */
  /** Fixture: the one-time unified containment index over the corpus
    * (r17 bench hygiene, applied in r20 — this build re-ran INSIDE the
    * timed rep since r16, drowning the delta-probe signal the query
    * exists to gate; the probe is read-only, so the marker-guarded
    * build is replay-idempotent like every other store fixture). */
  private def t143Fixture(s: SparkSession, dir: String): Unit = {
    val corpus = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val root = scratch("ctidx", dir)
    ensureFixture(root) {
      graft.llm.Dedup.writeContainmentIndex(s, corpus, "doc_id", "text",
        s"$root/idx")
    }
  }

  private def t143ContainmentIndexed(s: SparkSession, dir: String): DataFrame = {
    t143Fixture(s, dir)
    val d = t(s, dir, "documents")
    val halves = d.filter(col("doc_id") < 50).select(
      (col("doc_id") + 200000).as("doc_id"),
      expr("substring(text, 1, cast(n_chars div 2 as int))").as("text"))
    val revs = d.filter(col("doc_id") % 7 === 0).select(col("doc_id"),
      concat(col("text"), lit(" containment rev2 trailer")).as("text"))
    val delta = halves.unionByName(revs)
    val root = scratch("ctidx", dir)
    graft.llm.Dedup.containmentDeltaPairsIndexed(s, s"$root/idx", delta,
        "doc_id", "text", maxDf = 16)
      .select(col("a_id"), col("b_id"),
        floor(col("containment") * 1e6).cast("long").as("containment_ppm"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Containment probing ACROSS committed versions of the UNIFIED
    * dedup store ([[graft.llm.NearDupIndexStore]] with
    * `withContainment = true` — r16 verdict item #2: one store, one
    * atomic commit, one retention story for every dedup family): v1
    * indexes the corpus with the %7 docs at an obsolete draft; batch 1
    * re-uploads their true text (appendDelta → a STITCHED v2 whose
    * containment postings + census + near-dup layouts all flip behind
    * ONE `_CURRENT` swap); batch 2 then probes v2 — whose logical
    * corpus is exactly `documents` — with t123's delta (half-prefix
    * quotes + rev2-trailer re-uploads, maxDf=16), so t123's literal
    * oracle applies verbatim while the probe exercises cross-version
    * stitched reads and the exact derived census. Operational path
    * only (build → append → probe); rebuild-parity lives in
    * NearDupIndexStoreSpec/DedupSpec. */
  /** Fixture: v1 (the %7 docs at an obsolete draft) + batch 1's
    * re-uploads absorbed — v2 is the STITCHED cross-version state whose
    * logical corpus is exactly `documents`; the timed path is batch 2's
    * containment probe over it. */
  private def t145Fixture(s: SparkSession, dir: String): Unit = {
    import graft.llm.NearDupIndexStore
    val d = t(s, dir, "documents")
    val root = scratch("ctstore", dir)
    ensureFixture(root) {
      val corpus0 = d.select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(lit("obsolete draft placeholder revision "),
            substring(col("text"), 1, 48)))
          .otherwise(col("text")).as("text"))
      NearDupIndexStore.build(s, corpus0, "doc_id", "text", root,
        withContainment = true)
      NearDupIndexStore.appendDelta(s, root,
        d.filter(col("doc_id") % 7 === 0).select(col("doc_id"), col("text")),
        "doc_id", "text"): Unit
    }
  }

  private def t145ContainmentStore(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.NearDupIndexStore
    t145Fixture(s, dir)
    val d = t(s, dir, "documents")
    val halves = d.filter(col("doc_id") < 50).select(
      (col("doc_id") + 200000).as("doc_id"),
      expr("substring(text, 1, cast(n_chars div 2 as int))").as("text"))
    val revs = d.filter(col("doc_id") % 7 === 0).select(col("doc_id"),
      concat(col("text"), lit(" containment rev2 trailer")).as("text"))
    val b2 = halves.unionByName(revs)
    val root = scratch("ctstore", dir)
    NearDupIndexStore.containmentPairsForDelta(s, root, b2, "doc_id", "text",
        maxDf = 16)
      .select(col("a_id"), col("b_id"),
        floor(col("containment") * 1e6).cast("long").as("containment_ppm"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** [[t121WinnowingDelta]]'s EXACT scenario through the persisted
    * winnowing index ([[graft.llm.Dedup.writeWinnowingIndex]] /
    * [[graft.llm.Dedup.winnowingDeltaPairsIndexed]]) — the r16 verdict's
    * last O(corpus)-per-batch dedup path closed: t121 anti-joins and
    * re-unions the FULL fingerprint index every batch and re-aggregates
    * df over it inside the cap; here a batch costs delta fingerprinting
    * + bucket-pruned reads of ONLY the delta's fp buckets + a broadcast
    * candidate join, with the df-cap evaluated from the exact persisted
    * census (delta-adjusted). Shared-fp counting is order-free, so the
    * pair set is identical for any cap (pinned in SketchSpec) and
    * t121's literal oracle applies verbatim. Operational path only
    * (build → probe); rebuild-parity lives in the spec. */
  /** Fixture: the one-time winnowing fingerprint index over the %5≠0
    * corpus (r17 bench hygiene, applied in r20 like t143's — the probe
    * is read-only, the build replay-idempotent under the marker). */
  private def t144Fixture(s: SparkSession, dir: String): Unit = {
    val corpus = t(s, dir, "documents").filter(col("doc_id") % 5 =!= 0)
    val root = scratch("widx", dir)
    ensureFixture(root) {
      graft.llm.Dedup.writeWinnowingIndex(s, corpus, "doc_id", "text",
        s"$root/idx", k = 16, w = 8)
    }
  }

  private def t144WinnowingIndexed(s: SparkSession, dir: String): DataFrame = {
    t144Fixture(s, dir)
    val d = t(s, dir, "documents")
    val revText = when(col("doc_id") % 7 === 0,
      concat(col("text"), lit(" winnowing rev2 trailer"))).otherwise(col("text"))
    val delta = d.filter(col("doc_id") % 5 === 0 || col("doc_id") % 7 === 0)
      .withColumn("text", revText)
    val root = scratch("widx", dir)
    graft.llm.Dedup.winnowingDeltaPairsIndexed(s, s"$root/idx", delta,
        "doc_id", "text", minShared = 8, maxDf = 16)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** [[t144WinnowingIndexed]]'s EXACT scenario through the UNIFIED
    * versioned store ([[graft.llm.NearDupIndexStore]] built with
    * `winnowing = (16, 8)`): the winnowing components land beside the
    * near-dup layouts under one `v1/` dir and one `_CURRENT` swap, and
    * the probe reads only the COMMITTED view — the third dedup family
    * driver-gated through the store (t142 Jaccard, t145 containment,
    * this winnowing). Same delta scenario as t121/t144, so the literal
    * oracle applies verbatim. */
  private def t146Fixture(s: SparkSession, dir: String): Unit = {
    import graft.llm.NearDupIndexStore
    val d = t(s, dir, "documents")
    val root = scratch("wstore", dir)
    ensureFixture(root) {
      NearDupIndexStore.build(s, d.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", root, winnowing = Some((16, 8))): Unit
    }
  }

  private def t146WinnowingStore(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.NearDupIndexStore
    t146Fixture(s, dir)
    val d = t(s, dir, "documents")
    val revText = when(col("doc_id") % 7 === 0,
      concat(col("text"), lit(" winnowing rev2 trailer"))).otherwise(col("text"))
    val delta = d.filter(col("doc_id") % 5 === 0 || col("doc_id") % 7 === 0)
      .withColumn("text", revText)
    val root = scratch("wstore", dir)
    NearDupIndexStore.winnowingPairsForDelta(s, root, delta, "doc_id", "text",
        minShared = 8, maxDf = 16)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** [[t65IncrementalMinhash]]'s EXACT scenario through the unified
    * versioned store ([[graft.llm.NearDupIndexStore]] built with
    * `minhash = (64, 16)`): t65's [[graft.llm.Dedup.minHashDeltaPairs]]
    * re-shingles the FULL corpus text every batch for verification and
    * full-scans the band index for candidates; the indexed form probes
    * bucket-pruned band buckets and verifies against bucket-pruned
    * partner SETS (the store's existing component — the corpus text is
    * never re-read), with the band component derived from the stored
    * sets at build (no second text pass). Same candidates (identical
    * signature function over identical shingle sets) and same exact
    * verification, so t65's literal oracle applies verbatim. */
  private def t147Fixture(s: SparkSession, dir: String): Unit = {
    import graft.llm.NearDupIndexStore
    val d = t(s, dir, "documents")
    val root = scratch("mhstore", dir)
    ensureFixture(root) {
      NearDupIndexStore.build(s, d.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", root, minhash = Some((64, 16))): Unit
    }
  }

  private def t147MinhashStore(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.NearDupIndexStore
    t147Fixture(s, dir)
    val d = t(s, dir, "documents")
    val delta = d.filter(col("doc_id") % 5 === 0)
    val root = scratch("mhstore", dir)
    NearDupIndexStore.minhashPairsForDelta(s, root, delta, "doc_id", "text",
        threshold = 0.8)
      .select(col("a_id"), col("b_id"),
        floor(col("jaccard") * 1e6).cast("long").as("jac_ppm"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Fuzzy-key delta dedup through the unified versioned store
    * ([[graft.llm.NearDupIndexStore]] built with `fuzzyKey = (64, 3)`):
    * the %3==0 daily batch probes the committed segment index
    * bucket-pruned — closing [[graft.llm.Dedup.fuzzyKeyDeltaPairs]]'
    * per-batch full-index scan (it reads the whole segment frame every
    * batch; keys never ride text, but the scan grows with the corpus).
    * Output = exactly the delta-touching pairs, so t100's DuckDB twin
    * applies with one restriction clause. */
  private def t148Fixture(s: SparkSession, dir: String): Unit = {
    import graft.llm.NearDupIndexStore
    val d = t(s, dir, "documents")
    val root = scratch("fzstore", dir)
    ensureFixture(root) {
      NearDupIndexStore.build(s, d.filter(col("doc_id") % 3 =!= 0),
        "doc_id", "text", root, fuzzyKey = Some((64, 3))): Unit
    }
  }

  private def t148FuzzyStore(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.NearDupIndexStore
    t148Fixture(s, dir)
    val d = t(s, dir, "documents")
    val delta = d.filter(col("doc_id") % 3 === 0)
    val root = scratch("fzstore", dir)
    NearDupIndexStore.fuzzyPairsForDelta(s, root, delta, "doc_id", "text")
      .orderBy(col("a_id"), col("b_id"))
  }

  /** [[t142NeardupStore]]'s probe scenario across an AUTO-TRIGGERED
    * maintenance pass ([[graft.llm.NearDupIndexStore.maybeMaintain]] —
    * r17 verdict item #3): the fixture builds v1 over the even half,
    * absorbs batch 1, then lets the store maintain ITSELF — the chain
    * depth (2 > 1) and the head staleness (1.5× ≥ 1.2) both cross their
    * thresholds, so maybeMaintain runs compact(refreeze = true). The
    * timed probes read the maintained (folded + refrozen) store and
    * must hash-match t142's oracle EXACTLY: maintenance changes
    * candidate cost, never answers (the frozen order is a heuristic,
    * not a correctness input — NearDupIndexStoreSpec pins the same
    * invariant plus trigger hysteresis). */
  private def t149Fixture(s: SparkSession, dir: String): Unit = {
    import graft.llm.NearDupIndexStore
    val d = t(s, dir, "documents")
    val root = scratch("mtstore", dir)
    ensureFixture(root) {
      NearDupIndexStore.build(s,
        d.filter(col("doc_id") % 2 === 0), "doc_id", "text", root)
      NearDupIndexStore.appendDelta(s, root,
        d.filter(col("doc_id") % 4 === 1), "doc_id", "text")
      val maintained = NearDupIndexStore.maybeMaintain(s, root,
        maxChainDepth = 1, headStaleRatio = 1.2)
      require(maintained.nonEmpty,
        "t149 fixture: maintenance must auto-trigger (chain depth 2 > 1)")
    }
  }

  private def t149StoreMaintenance(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.NearDupIndexStore
    t149Fixture(s, dir)
    val d = t(s, dir, "documents")
    val b1 = d.filter(col("doc_id") % 4 === 1)
    val b2 = d.filter(col("doc_id") % 4 === 3)
    val root = scratch("mtstore", dir)
    // both probes read the SAME committed version (no append between
    // them) — independent, overlapped (guide §2.6)
    val ps = graft.util.Par.run(Seq(
      () => NearDupIndexStore.pairsForDelta(s, root, b1, "doc_id", "text")
        .ckpt(),
      () => NearDupIndexStore.pairsForDelta(s, root, b2, "doc_id", "text")
        .ckpt()))
    ps(0).unionByName(ps(1))
      .select(col("a_id"), col("b_id"),
        floor(col("jaccard") * 1e6).cast("long").as("jaccard_ppm"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** The STREAMING winnowing loop over the versioned dedup store,
    * driver-gated end to end (r17 verdict item #8 — the restart-safe
    * micro-batch path lived only in specs): the full documents corpus
    * arrives as a bounded two-file micro-stream
    * (`Trigger.AvailableNow`, maxFilesPerTrigger = 1);
    * [[graft.streaming.WinnowingStream.startIndexed]]'s first batch
    * BUILDS the winnowing-only store, every later batch probes the
    * committed view bucket-pruned and appends behind one atomic
    * `_CURRENT` swap. Accumulated emissions telescope to the batch
    * algorithm's full pair set for ANY micro-batch partition of the
    * corpus (each pair is emitted exactly once — by the batch that
    * completes it; shared-fp counts are pure pair functions, so no
    * value depends on batch boundaries) — t46's literal oracle applies
    * verbatim. NOT fixture-backed: the build-probe-append loop IS the
    * operational path this query gates, so the timed body keeps it. */
  private def t150WinnowingStream(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val root = scratch("wstream", dir)
    if (graft.fs.Fs.exists(root)) graft.fs.Fs.deleteRecursive(root)
    d.filter(col("doc_id") % 2 === 0).write.parquet(s"$root/in1")
    d.filter(col("doc_id") % 2 =!= 0).write.parquet(s"$root/in2")
    val stream = s.readStream.schema(d.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in*")
    val q = graft.streaming.WinnowingStream.startIndexed(stream,
      "doc_id", "text", s"$root/store", s"$root/ckpt",
      k = 16, w = 8, minShared = 8) { (pairs, _) =>
      pairs.write.mode("append").parquet(s"$root/out")
    }
    // (t150's emissions are batch-order-independent — telescoping holds
    // for ANY partition — so no mtime pinning needed here, unlike t156;
    // but a hung stream must still fail loudly, not read partial out)
    require(q.awaitTermination(300000),
      "t150: stream did not terminate within 300s")
    s.read.parquet(s"$root/out").orderBy(col("a_id"), col("b_id"))
  }

  /** The TWO-LEVEL-routed ANN store end to end (r17 verdict item #4 —
    * [[graft.llm.HierarchicalRouting]] via `Params.subCells`): 8 coarse
    * × 4 sub-cells (32 fine), multiAssign 2 (the measured default),
    * built over the %5≠0 corpus and advanced by the %5==0 delta under
    * FROZEN two-level state. Only k₁ = 8 coarse centroids are
    * driver-resident; query routing reads ONLY the probed coarse
    * cells' sub-centroid buckets and the search probes ONLY the routed
    * fine cells' assignment/edge buckets (strict-subset reads at both
    * levels pinned in ScaleSpec) — the structure that scales routing
    * past the flat driver-side centroid matrix. The emitted
    * recall-vs-brute census is deterministic (decimal coarse
    * centroids, id-ordered sub-seeds and samples, (d², cell) ties,
    * integer ppm floors) → literal oracle; ABLATION_r18 carries the
    * ×10 recall sweep. */
  private def t151Fixture(s: SparkSession, dir: String): Unit = {
    import graft.llm.AnnIndexStore
    val e = t(s, dir, "embeddings")
    val root = scratch("hierann", dir)
    ensureFixture(root) {
      val p = AnnIndexStore.Params(nCells = 8, iters = 2, numBuckets = 16,
        m = 8, efConstruction = 48, subCells = 4)
      AnnIndexStore.build(s, e.filter(col("vec_id") % 5 =!= 0),
        "vec_id", "embedding", root, p)
      AnnIndexStore.appendDelta(s, root, e.filter(col("vec_id") % 5 === 0),
        "vec_id", "embedding", p): Unit
    }
  }

  private def t151AnnHierarchical(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.AnnIndexStore
    t151Fixture(s, dir)
    val e = t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 20)
    val root = scratch("hierann", dir)
    val ann = AnnIndexStore.searchGraph(s, root, q, "vec_id", "embedding",
      k = 10, nprobe = 8, efSearch = 96, nprobeCoarse = 4)
    val brute = Similarity.bruteTopK(e, q, "vec_id", "embedding", k = 10)
    Similarity.recallAtK(ann, brute, floorPpm = 500000L).orderBy(col("query_id"))
  }

  /** The IVF-PQ COMPOSED search through the versioned store
    * ([[graft.llm.AnnIndexStore.searchPq]] — the r17 verdict's second
    * routing-scale suggestion, composed from the t83 PQ machinery and
    * the t130 cell routing): the %5≠0 corpus builds a store carrying a
    * product-quantized codes component (8 subquantizers × 16 codes —
    * 8 small ints per row where the raw vector is 64 floats), the
    * %5==0 delta lands under FROZEN codebooks, and the search routes
    * to nprobe cells, SHORTLISTS them by asymmetric distance over the
    * codes (raw vectors never scanned at this stage), then
    * exact-re-ranks only the k·refine shortlist. Deterministic
    * (decimal codebooks, (d², id) ties, exact cosine re-rank) →
    * literal recall-census oracle. */
  private def t152Fixture(s: SparkSession, dir: String): Unit = {
    import graft.llm.AnnIndexStore
    val e = t(s, dir, "embeddings")
    val root = scratch("pqann", dir)
    ensureFixture(root) {
      val p = AnnIndexStore.Params(nCells = 16, iters = 2, numBuckets = 16,
        m = 8, efConstruction = 48, pqM = 8, pqKsub = 16)
      AnnIndexStore.build(s, e.filter(col("vec_id") % 5 =!= 0),
        "vec_id", "embedding", root, p)
      AnnIndexStore.appendDelta(s, root, e.filter(col("vec_id") % 5 === 0),
        "vec_id", "embedding", p): Unit
    }
  }

  private def t152AnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.AnnIndexStore
    t152Fixture(s, dir)
    val e = t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 20)
    val root = scratch("pqann", dir)
    val ann = AnnIndexStore.searchPq(s, root, q, "vec_id", "embedding",
      k = 10, nprobe = 8, refine = 4)
    val brute = Similarity.bruteTopK(e, q, "vec_id", "embedding", k = 10)
    Similarity.recallAtK(ann, brute, floorPpm = 500000L).orderBy(col("query_id"))
  }

  /** [[t141CurationIndexed]]'s exact batch (indexed curation state +
    * the re-upload delta), emitting ONLY the ledger rows the batch
    * CHANGED ([[graft.llm.Curation.ledgerChangedRows]]) — the
    * operational OUTPUT form at 100 TB: the full ledger is Ω(corpus)
    * per batch, the diff is churn-sized (the re-uploads' moved stats
    * plus every old doc whose verdict flipped through keep-best
    * clusters, the LM shift, or the re-derived quotas). Deletion is
    * not an intake event (re-uploads displace — P3's strict-`>`
    * gate), so the one-sided post∖pre diff is the complete delta.
    * Oracle: the post-replace rebuild twin EXCEPT the pre-batch
    * rebuild twin over the placeholder corpus — two nested t128 twins
    * (post == t141's convergence pin; pre == t128's twin on any
    * corpus, the t133/t134 rationale). */
  /** Fixture: the indexed curation state over the pre-delta corpus
    * (t141's shape, own root) PLUS the pre-batch ledger the deployment
    * wrote yesterday — the `prev` side of the diff. Replay-idempotent
    * like t141's (the index append is replace-by-key; the diff's both
    * sides are deterministic frames). */
  private def t153Fixture(s: SparkSession, dir: String): Unit = {
    val d = t(s, dir, "documents")
    val old = d.withColumn("text",
      when(col("doc_id") % 4 === 3,
        concat(lit("obsolete draft placeholder revision "),
          substring(col("text"), 1, 48)))
        .otherwise(col("text")))
    val bench = d.filter(col("doc_id") % 50 === 0)
    val root = scratch("curchg", dir)
    ensureFixture(root) {
      val st = graft.llm.Curation.buildStateIndexed(s, old, "doc_id", "text",
        "n_chars", "source", bench, "text", s"$root/idx")
      def rt(df: DataFrame, name: String): Unit = {
        df.write.mode("overwrite").parquet(s"$root/$name"): Unit
      }
      rt(st.thin, "thin"); rt(st.pairs, "pairs"); rt(st.cleanIds, "clean")
      rt(st.census, "census"); rt(st.gramIndex, "grams")
      // yesterday's ledger — (bench docs are never %4==3: doc_id ≡ 0
      // mod 50 is even, so the placeholder rewrite misses them and the
      // bench gram index is identical on both corpora)
      val preledger = graft.llm.Curation.fullPipelineLedger(old, "doc_id",
        "text", scoreCol = "n_chars", sourceCol = "source",
        bench = bench, benchTextCol = "text").ckpt()
      rt(preledger, "preledger")
      // ...and yesterday's per-source quality counts (#sources rows) —
      // what the churn-bounded diff needs to re-derive the prev
      // sampling fractions without touching yesterday's corpus
      import s.implicits._
      rt(graft.llm.Curation.qualitySourceCounts(preledger, st.thin,
        "doc_id", "source").toDF("source", "n"), "prevcounts")
    }
  }

  private def t153LedgerChanged(s: SparkSession, dir: String): DataFrame = {
    t153Fixture(s, dir)
    val d = t(s, dir, "documents")
    val delta = d.filter(col("doc_id") % 4 === 3)
    val root = scratch("curchg", dir)
    val persisted = graft.llm.Curation.IndexedState(
      s.read.parquet(s"$root/thin"), s.read.parquet(s"$root/pairs"),
      s.read.parquet(s"$root/clean"), s.read.parquet(s"$root/census"),
      s.read.parquet(s"$root/grams"))
    // churn-bounded end to end (r18 verdict #3): the candidate bands
    // bound the diff's INPUTS — prev and post are scanned through a
    // candidate semi-join, never shuffled whole; equality with the
    // unbounded except is pinned in CurationSpec, the output oracle
    // (rebuild-twin EXCEPT rebuild-twin) is unchanged by mechanism
    val prevCounts = s.read.parquet(s"$root/prevcounts")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    graft.llm.Curation.fullPipelineLedgerDeltaIndexedChanged(s, persisted,
        s"$root/idx", delta, "doc_id", "text", "n_chars", "source",
        s.read.parquet(s"$root/preledger"), prevCounts)
      .orderBy(col("doc_id"))
  }

  /** Fixture for [[t160LedgerChangedSmall]]: t153's shape at the
    * STEADY-STATE batch size — placeholders (and hence the day's
    * re-uploads) on %64==3, ~1.6 % of the corpus, under the default
    * 10 % churn crossover. Persists the same six frames plus
    * yesterday's ledger and per-source quality counts. */
  private def t160Fixture(s: SparkSession, dir: String): Unit = {
    val d = t(s, dir, "documents")
    val old = d.withColumn("text",
      when(col("doc_id") % 64 === 3,
        concat(lit("obsolete draft placeholder revision "),
          substring(col("text"), 1, 48)))
        .otherwise(col("text")))
    val bench = d.filter(col("doc_id") % 50 === 0)
    val root = scratch("curchgsm", dir)
    ensureFixture(root) {
      val st = graft.llm.Curation.buildStateIndexed(s, old, "doc_id", "text",
        "n_chars", "source", bench, "text", s"$root/idx")
      def rt(df: DataFrame, name: String): Unit = {
        df.write.mode("overwrite").parquet(s"$root/$name"): Unit
      }
      rt(st.thin, "thin"); rt(st.pairs, "pairs"); rt(st.cleanIds, "clean")
      rt(st.census, "census"); rt(st.gramIndex, "grams")
      val preledger = graft.llm.Curation.fullPipelineLedger(old, "doc_id",
        "text", scoreCol = "n_chars", sourceCol = "source",
        bench = bench, benchTextCol = "text").ckpt()
      rt(preledger, "preledger")
      import s.implicits._
      rt(graft.llm.Curation.qualitySourceCounts(preledger, st.thin,
        "doc_id", "source").toDF("source", "n"), "prevcounts")
    }
  }

  /** [[t153LedgerChanged]] at the STEADY-STATE batch size — a ~1.6 %
    * re-upload batch against the indexed curation state, through the
    * churn-BOUNDED diff: candidate ids derive from the batch (touched
    * docs, pair-churned clusters, the LM-shift band, the sampling
    * hash-band), prev and post ledgers are scanned through a candidate
    * semi-join and never shuffled whole, and only candidate rows reach
    * the except. This is the per-batch output path a 100 TB deployment
    * actually runs daily; t153 keeps the quarter-corpus batch (which
    * the adaptive crossover routes to the plain diff — a
    * corpus-proportional batch makes a corpus-sized diff
    * churn-proportional by definition). Oracle: the nested
    * rebuild-twin EXCEPT, t153's pattern at %64. */
  private def t160LedgerChangedSmall(s: SparkSession, dir: String): DataFrame = {
    t160Fixture(s, dir)
    val d = t(s, dir, "documents")
    val delta = d.filter(col("doc_id") % 64 === 3)
    val root = scratch("curchgsm", dir)
    val persisted = graft.llm.Curation.IndexedState(
      s.read.parquet(s"$root/thin"), s.read.parquet(s"$root/pairs"),
      s.read.parquet(s"$root/clean"), s.read.parquet(s"$root/census"),
      s.read.parquet(s"$root/grams"))
    val prevCounts = s.read.parquet(s"$root/prevcounts")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    graft.llm.Curation.fullPipelineLedgerDeltaIndexedChanged(s, persisted,
        s"$root/idx", delta, "doc_id", "text", "n_chars", "source",
        s.read.parquet(s"$root/preledger"), prevCounts)
      .orderBy(col("doc_id"))
  }

  /** Fixture: the versioned curation-LEDGER store
    * ([[graft.llm.CurationLedgerStore]]) built over the %64==3
    * placeholder corpus — t160's scenario with the state moved from
    * parquet frames into the store whose per-batch verdict COMPUTE is
    * churn-bounded. The build is the one-time corpus cost (pipeline
    * stages + every component layout); [[t161LedgerStoreAbsorb]] times
    * only the operational absorb. */
  private def t161Fixture(s: SparkSession, dir: String): Unit = {
    val root = scratch("curledst", dir)
    ensureFixture(root) { buildT161Store(s, dir, root) }
  }

  private def buildT161Store(s: SparkSession, dir: String, root: String): Unit = {
    val d = t(s, dir, "documents")
    val old = d.withColumn("text",
      when(col("doc_id") % 64 === 3,
        concat(lit("obsolete draft placeholder revision "),
          substring(col("text"), 1, 48)))
        .otherwise(col("text")))
    val bench = d.filter(col("doc_id") % 50 === 0)
    // the PRISTINE v1 — the query's replay guard restores from it by
    // file copy (build layouts carry only relative manifest entries,
    // so the tree is location-independent)
    graft.llm.CurationLedgerStore.build(s, old, bench, "text",
      s"$root/pristine",
      graft.llm.CurationLedgerStore.Params(
        idCol = "doc_id", textCol = "text",
        scoreCol = "n_chars", sourceCol = "source")): Unit
  }

  /** t160's steady-state batch through the curation-ledger STORE — the
    * r19 capstone: the per-batch verdict COMPUTE is churn-bounded, not
    * just the diff. [[graft.llm.CurationLedgerStore.absorbBatch]]
    * derives a provably-complete candidate set (touched docs; pair-BFS
    * components via the id-keyed edge component; LM-shift flips via
    * the certified lazy-rescoring score band + significant-token doc
    * lists; sampling flips via the (source, hash-band) component),
    * recomputes EXACTLY those verdicts from point lookups, and splices
    * them onto the stored ledger — no corpus-thin frame is built, let
    * alone shuffled (ScaleSpec proves it by deleting untouched
    * buckets' files). Output == the rebuild-twin EXCEPT, so t160's
    * nested oracle applies verbatim; equality with the frame-path diff
    * and with full-rebuild twins is pinned in CurationLedgerStoreSpec.
    * The absorb ADVANCES the store, so a replay (second run in one
    * process) rebuilds the fixture store first — [[Bench]]'s min-of-reps
    * therefore reports the clean first-absorb probe. */
  private def t161LedgerStoreAbsorb(s: SparkSession, dir: String): DataFrame = {
    t161Fixture(s, dir)
    val root = scratch("curledst", dir)
    // a marker from a pre-pristine fixture layout skips the build —
    // self-heal rather than fail the copy below
    if (!graft.fs.Fs.exists(s"$root/pristine")) buildT161Store(s, dir, root)
    val store = s"$root/store"
    // replay guard: the absorb ADVANCES the store, so a re-run (bench
    // reps 2+, repeated Verify in one JVM) restores the pristine v1 by
    // FILE COPY — cheap data clone, never a rebuild. An
    // unreadable/advanced/missing pointer all mean the same thing here
    // — restore.
    val pristineOk = scala.util.Try(
      graft.llm.CurationLedgerStore.currentVersion(store)).toOption.flatten
      .contains(1L)
    if (!pristineOk) graft.fs.Fs.replaceLocalTree(s"$root/pristine", store)
    val delta = t(s, dir, "documents").filter(col("doc_id") % 64 === 3)
    graft.llm.CurationLedgerStore.absorbBatch(s, store, delta)
      .orderBy(col("doc_id"))
  }

  /** The curation-ledger store's STREAMING twin
    * ([[graft.streaming.CurationLedgerStream.start]] — the t156
    * streaming-store idiom for the curation capstone): the quarter
    * corpus (%4==0) arrives as a bounded two-file micro-stream —
    * yesterday's docs (placeholders on %32==0) build the store on the
    * first trigger and emit the full initial ledger; the day's
    * re-upload revisions absorb on the second (churn-bounded
    * candidates + exact rescoring + splice) and emit only the CHANGED
    * rows. Emissions TELESCOPE: upserting each batch's rows by id,
    * latest batch wins, reproduces the from-scratch pipeline over the
    * final corpus — so the oracle is t128's e2e SQL over the same
    * quarter corpus (CurationLedgerStoreSpec pins the telescoping AND
    * restart/idle safety across a real restart). */
  private def t162LedgerStream(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // quarter corpus: the stream REBUILDS the store every run (it must
    // start empty), so unlike t161 no untimed fixture can carry the
    // build — size the corpus so the whole loop stays bench-friendly
    val d = t(s, dir, "documents").filter(col("doc_id") % 4 === 0)
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
    val root = scratch("lstream", dir)
    if (graft.fs.Fs.exists(root)) graft.fs.Fs.deleteRecursive(root)
    val old = d.withColumn("text",
      when(col("doc_id") % 32 === 0,
        concat(lit("obsolete draft placeholder revision "),
          substring(col("text"), 1, 48)))
        .otherwise(col("text")))
    old.coalesce(1).write.parquet(s"$root/in1")
    d.filter(col("doc_id") % 32 === 0).coalesce(1).write.parquet(s"$root/in2")
    // pin batch order against an mtime tie (the t156 lesson): the
    // placeholder corpus MUST build the store
    def touch(dd: String, tm: Long): Unit =
      new java.io.File(dd).listFiles().foreach(_.setLastModified(tm))
    val now = System.currentTimeMillis()
    touch(s"$root/in1", now - 60000)
    touch(s"$root/in2", now)
    val stream = s.readStream.schema(d.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in*")
    val bench = d.filter(col("doc_id") % 50 === 0)
    val q = graft.streaming.CurationLedgerStream.start(stream,
      s"$root/store", s"$root/ckpt", bench, "text",
      graft.llm.CurationLedgerStore.Params(
        idCol = "doc_id", textCol = "text",
        scoreCol = "n_chars", sourceCol = "source")) { (changed, id) =>
      changed.withColumn("batch", lit(id))
        .write.mode("append").parquet(s"$root/out")
    }
    require(q.awaitTermination(600000),
      "t162: stream did not terminate within 600s")
    s.read.parquet(s"$root/out")
      .withColumn("_rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("batch").desc)))
      .filter(col("_rk") === 1)
      .select(col("doc_id"), col("n_tokens"), col("verdict"))
      .orderBy(col("doc_id"))
  }

  /** Fixture: a FLAT versioned ANN store over the %5≠0 embeddings
    * under the recall default `multiAssign = 2` — the store side of
    * the semantic-dedup probe ([[t154SemDedupStore]]). Graph params
    * stay small: SemDeDup probes the assignment component only. */
  private def t154Fixture(s: SparkSession, dir: String): Unit = {
    import graft.llm.AnnIndexStore
    val e = t(s, dir, "embeddings")
    val root = scratch("semstore", dir)
    ensureFixture(root) {
      AnnIndexStore.build(s, e.filter(col("vec_id") % 5 =!= 0),
        "vec_id", "embedding", root,
        AnnIndexStore.Params(nCells = 8, iters = 2, numBuckets = 16,
          m = 4, efConstruction = 12)): Unit
    }
  }

  /** SemDeDup THROUGH the versioned ANN store
    * ([[graft.llm.AnnIndexStore.semDedupPairsForDelta]]) — the
    * embedding family joins the five shingle/hash families behind a
    * delta-bounded store probe: the %5==0 batch routes to its primary
    * cells (broadcast centroid literals), ONLY those cells' assignment
    * buckets load (strict-subset gate in ScaleSpec), multiAssign
    * routing copies drop by the store's own argmin rule, and pairs ==
    * batch SemDeDup at the store's centroids restricted to the delta
    * (AnnIndexStoreSpec). Deterministic (decimal-exact stored
    * centroids, index-ordered dots, ppm floor) → literal oracle;
    * partitioning-independent because every pair's cosine is a pure
    * per-row function and cell assignment a pure argmin. */
  private def t154SemDedupStore(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.AnnIndexStore
    t154Fixture(s, dir)
    val e = t(s, dir, "embeddings")
    val delta = e.filter(col("vec_id") % 5 === 0)
    val root = scratch("semstore", dir)
    AnnIndexStore.semDedupPairsForDelta(s, root, delta,
        "vec_id", "embedding", minCos = 0.35)
      .select(col("cell"), col("a_id"), col("b_id"),
        floor(col("cos_sim") * 1e6).cast("long").as("cos_ppm"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Fixture: the ANN store's self-triggering maintenance loop
    * ([[graft.llm.AnnIndexStore.maybeMaintain]] — the t149 idiom for
    * the embedding family): v1 over the id≥5 corpus, a FIXED 5-id
    * delta (ids 0–4 — constant at every scale factor, so most cells
    * stay untouched and the append stitches a reference chain, depth
    * 2 > 1, at sf0.01 AND the bench/slope scales), and the store
    * compacts ITSELF
    * into a self-contained version. Idempotent: after the maintained
    * version commits, chainDepth == 1 and the guarded block never
    * re-runs. */
  private def t155Fixture(s: SparkSession, dir: String): Unit = {
    import graft.llm.AnnIndexStore
    val e = t(s, dir, "embeddings")
    val root = scratch("annmaint", dir)
    ensureFixture(root) {
      val p = AnnIndexStore.Params(nCells = 16, iters = 2, numBuckets = 16,
        m = 8, efConstruction = 48)
      AnnIndexStore.build(s, e.filter(col("vec_id") >= 5),
        "vec_id", "embedding", root, p)
      AnnIndexStore.appendDelta(s, root, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", p)
      val maintained = AnnIndexStore.maybeMaintain(s, root,
        "vec_id", "embedding", p, maxChainDepth = 1)
      require(maintained.nonEmpty,
        "t155 fixture: maintenance must auto-trigger (chain depth 2 > 1)")
    }
  }

  /** Graph-ANN search across the ANN store's AUTO-TRIGGERED compaction
    * ([[t155Fixture]]): the timed path searches the maintained
    * (folded, self-contained) store and grades recall against brute
    * force — maintenance changes layout, never answers
    * (AnnIndexStoreSpec pins search AND the semantic-dedup probe
    * bit-equal across [[graft.llm.AnnIndexStore.maybeMaintain]], plus
    * the no-op below threshold and the structural hysteresis).
    * Deterministic end-to-end → literal recall-census oracle. */
  private def t155AnnMaintenance(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.AnnIndexStore
    t155Fixture(s, dir)
    val e = t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 20)
    val root = scratch("annmaint", dir)
    val ann = AnnIndexStore.searchGraph(s, root, q, "vec_id", "embedding",
      k = 10, nprobe = 8, efSearch = 96)
    val brute = Similarity.bruteTopK(e, q, "vec_id", "embedding", k = 10)
    Similarity.recallAtK(ann, brute, floorPpm = 500000L).orderBy(col("query_id"))
  }

  /** Streaming SemDeDup over the versioned ANN store
    * ([[graft.streaming.SemDedupStream.startIndexed]] — the t150
    * streaming-store idiom for the embedding family): the embeddings
    * corpus arrives as a bounded two-file micro-stream (even ids, then
    * odd — one file per trigger, each coalesced to one part so the
    * batch composition is deterministic), the FIRST batch builds the
    * store and freezes the centroids, the second probes the committed
    * version and appends behind the atomic swap (under the persisted
    * `_PARAMS`). Accumulated emissions telescope to the one-shot batch
    * SemDeDup of the full corpus at the frozen (even-half) centroids —
    * each pair lands exactly once, in the batch where its later member
    * arrived (AnnIndexStoreSpec pins the telescoping AND restart
    * safety). Deterministic end-to-end → literal oracle. */
  private def t156SemDedupStream(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.AnnIndexStore
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val root = scratch("sstream", dir)
    if (graft.fs.Fs.exists(root)) graft.fs.Fs.deleteRecursive(root)
    e.filter(col("vec_id") % 2 === 0).coalesce(1).write.parquet(s"$root/in1")
    e.filter(col("vec_id") % 2 =!= 0).coalesce(1).write.parquet(s"$root/in2")
    // the file source orders batches by modification time; the two
    // writes land within ms of each other, and an mtime TIE could
    // process in2 first — freezing centroids on the odd half and
    // breaking the literal oracle. Pin the order explicitly.
    def touch(d: String, t: Long): Unit =
      new java.io.File(d).listFiles().foreach(_.setLastModified(t))
    val now = System.currentTimeMillis()
    touch(s"$root/in1", now - 60000)
    touch(s"$root/in2", now)
    val stream = s.readStream.schema(e.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in*")
    // cells AUTO-SIZE to the first batch (⌈250/32⌉ = 8 at sf0.01 —
    // the literal oracle's partition): with fixed nCells the
    // within-cell pair stage is O((n/k)²)·k and the stream would go
    // quadratic at scale; cellTarget keeps cell size — and with it
    // per-batch probe cost — bounded as the corpus grows
    val q = graft.streaming.SemDedupStream.startIndexed(stream,
      "vec_id", "embedding", s"$root/store", s"$root/ckpt", minCos = 0.35,
      AnnIndexStore.Params(nCells = 0, cellTarget = 32, iters = 2,
        numBuckets = 16, m = 4, efConstruction = 12)) { (pairs, _) =>
      pairs.write.mode("append").parquet(s"$root/out")
    }
    // a hung stream must fail LOUDLY — a discarded false would read
    // partial output as if it were the full corpus's pairs
    require(q.awaitTermination(300000),
      "t156: stream did not terminate within 300s")
    s.read.parquet(s"$root/out")
      .select(col("cell"), col("a_id"), col("b_id"),
        floor(col("cos_sim") * 1e6).cast("long").as("cos_ppm"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** The t132 drift loop on a HIERARCHICAL (subCells > 0) store — the
    * deployment shape for the 10⁵–10⁶-fine-cell regime, where no flat
    * driver-resident centroid matrix exists: drift measures against
    * the COARSE matrix (and reads its corpus baseline from the
    * persisted `_DRIFTBASE` — the check is version-metadata + delta
    * only, gated in ScaleSpec), the in-distribution delta stays below
    * threshold and is absorbed by the frozen two-level
    * [[graft.llm.AnnIndexStore.appendDelta]] (only its coarse cells'
    * sub-centroid buckets load), and the shifted delta retrains the
    * FULL two-level state — coarse AND sub-centroids — as a new
    * version equal to a fresh hierarchical build on the merged corpus
    * (pinned in AnnIndexStoreSpec). Maintenance runs under the store's
    * OWN persisted `_PARAMS` (the param-less deployment entry points).
    * Literal checksum oracle over the post-maintenance routed search,
    * t132's idiom. */
  private def t157AnnHierDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.llm.AnnIndexStore
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val v1 = e.filter(col("vec_id") % 5 =!= 0)
    val deltaSame = e.filter(col("vec_id") % 5 === 0)
    val deltaShift = deltaSame.select(col("vec_id"),
      transform(col("embedding"), x => (x + lit(3.0f)).cast("float")).as("embedding"))
    val root = scratch("hierdrift", dir)
    // idempotent across bench reps: each run replays the loop from v1
    if (graft.fs.Fs.exists(root)) graft.fs.Fs.deleteRecursive(root)
    val p = AnnIndexStore.Params(nCells = 4, iters = 2, numBuckets = 16,
      m = 8, efConstruction = 48, subCells = 4)
    val q = e.filter(col("vec_id") < 20)
    def scenario(name: String, delta: DataFrame): (String, Long, Int, Long, Long, Long, Long) = {
      val r = s"$root/$name"
      AnnIndexStore.build(s, v1, "vec_id", "embedding", r, p)
      val d = AnnIndexStore.reclusterIfDrifted(s, r, delta, "vec_id", "embedding",
        thresholdPpm = 2000000L)
      val vAfter =
        if (d.reclustered) d.version
        else AnnIndexStore.appendDelta(s, r, delta, "vec_id", "embedding")
      val store = AnnIndexStore.searchGraph(s, r, q, "vec_id", "embedding",
        k = 10, nprobe = 8, efSearch = 48, nprobeCoarse = 2)
      val (nbrCk, cosCk) = store.select(
          sum(col("rank") * col("neighbor_id")).cast("long"),
          sum(floor(col("cos_sim") * 1e6)).cast("long"))
        .as[(Long, Long)].head()
      val nIndex = AnnIndexStore.assigned(s, r).count()
      (name, d.driftPpm, if (d.reclustered) 1 else 0, vAfter, nIndex, nbrCk, cosCk)
    }
    // disjoint store roots, immutable shared inputs — overlapped like
    // t132's scenarios (guide §2.6)
    graft.util.Par.run(Seq(
        () => scenario("in_dist", deltaSame),
        () => scenario("shifted", deltaShift)))
      .toDF("scenario", "drift_ppm", "reclustered", "version_after", "n_index",
        "nbr_ck", "cos_ck")
      .orderBy(col("scenario"))
  }

  /** Fixture: t154's twin store built HIERARCHICAL (4 coarse × 4 sub
    * under multiAssign 2) — the store side of the two-level semantic
    * dedup probe. */
  private def t158Fixture(s: SparkSession, dir: String): Unit = {
    import graft.llm.AnnIndexStore
    val e = t(s, dir, "embeddings")
    val root = scratch("semstoreh", dir)
    ensureFixture(root) {
      AnnIndexStore.build(s, e.filter(col("vec_id") % 5 =!= 0),
        "vec_id", "embedding", root,
        AnnIndexStore.Params(nCells = 4, iters = 2, numBuckets = 16,
          m = 4, efConstruction = 12, subCells = 4)): Unit
    }
  }

  /** SemDeDup through a HIERARCHICAL ANN store
    * ([[graft.llm.AnnIndexStore.semDedupPairsForDelta]]'s two-level
    * branch — t154's twin at the partition scale semantic dedup
    * actually needs: 10⁹ vectors want 10⁵–10⁶ cells, past any
    * driver-resident flat matrix): the %5==0 batch resolves coarse
    * driver-side (k₁ rows), ONLY its coarse cells' sub-centroid
    * buckets load to resolve primary FINE cells, members filter to
    * their stored rank-1 rows, and pairs compare within fine cells.
    * Deterministic end to end → literal oracle (pairs == the frozen
    * two-level batch twin, pinned in AnnIndexStoreSpec). */
  private def t158SemDedupHier(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.AnnIndexStore
    t158Fixture(s, dir)
    val e = t(s, dir, "embeddings")
    val delta = e.filter(col("vec_id") % 5 === 0)
    val root = scratch("semstoreh", dir)
    AnnIndexStore.semDedupPairsForDelta(s, root, delta,
        "vec_id", "embedding", minCos = 0.35)
      .select(col("cell"), col("a_id"), col("b_id"),
        floor(col("cos_sim") * 1e6).cast("long").as("cos_ppm"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Zipf-skewed fact-side join — the classic 100×-scale killer the
    * relational surface must survive: ~90 % of lineitem rows hash to
    * ONE join key (synthetic hot-key remap of l_orderkey), so a naive
    * shuffle join lands most of the fact table in a single reducer.
    * The engine leaves the plan declarative and lets AQE's skew-join
    * handling split the hot partition at runtime (gated with a
    * plan-shape + partition-size assertion in ScaleSpec; an explicit
    * salting operator exists as [[graft.operators.Scale.saltedJoin]]
    * for engines/paths without AQE). The aggregate output is exact
    * integer money math — the DuckDB twin re-derives it. */
  private def t159SkewJoin(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem").withColumn("fk",
      when(pmod(col("l_orderkey"), lit(100)) < 90, lit(1L))
        .otherwise(col("l_orderkey")))
    val o = t(s, dir, "orders")
    l.join(o, col("fk") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_li"),
        moneySum(col("l_extendedprice"), 2).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** TF-IDF keyword extraction: top-3 terms per document, ppm-floored
    * scores, ties on the term string — the corpus-exploration signal. */
  private def t88TfidfTerms(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfIdfTopTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
      .orderBy(col("doc_id"), col("rank"))

  /** Quality-aware dedup survivors: same near-dup clusters as t59, but
    * keep the LONGEST member per cluster (ties → min id) — the
    * curation-grade representative policy. Survivor COUNT equals t59's
    * (one per cluster); membership differs, which the hash sees. */
  private def t89SurvivorsKeepBest(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.jaccardNearDupPairs(docs, "doc_id", "text", n = 3, threshold = 0.8)
    Dedup.dedupByPairsKeepBest(docs, "doc_id", "n_chars", pairs, "a_id", "b_id")
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Overlapping token-window chunking (RAG/context-window split):
    * 32-token chunks, stride 24 (8-token overlap). Pure map stage —
    * see [[graft.llm.Chunking.chunkWindows]]. */
  private def t99ChunkWindows(s: SparkSession, dir: String): DataFrame =
    graft.llm.Chunking.chunkWindows(t(s, dir, "documents"), "doc_id", "text",
        chunkSize = 32, stride = 24)
      .orderBy(col("doc_id"), col("chunk_id"))

  /** COMPLETE fuzzy-key near-dup pairs: Hamming ≤ 3 on the 64-char
    * normalized head key via the pigeonhole segment filter
    * ([[graft.llm.Dedup.fuzzyKeyPairs]]) — unconditional recall,
    * unlike MinHash banding. */
  private def t100FuzzyKeyPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.fuzzyKeyPairs(t(s, dir, "documents"), "doc_id", "text",
        keyLen = 64, maxDist = 3)
      .orderBy(col("a_id"), col("b_id"))

  /** Intra-document repeated-line collapse (keep first occurrence).
    * Text is lineified into 3-token lines; every 5th doc gets its first
    * line re-appended so the dup path exercises deterministically on
    * the word-salad fixture (same synthesis trick as t90). */
  private def t101IntradocLineDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.normalizeText
    val lineified = regexp_replace(normalizeText(col("text")),
      "((?:\\S+ ){2}\\S+) ", "$1\n")
    val d = t(s, dir, "documents")
      .withColumn("__t", lineified)
      .withColumn("text",
        when(col("doc_id") % 5 === 0,
          concat(col("__t"), lit("\n"), element_at(split(col("__t"), "\n"), 1)))
          .otherwise(col("__t")))
    Dedup.intraDocLineDedup(d, "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** Cross-source 8-gram contamination matrix
    * ([[graft.llm.Decontaminate.crossSourceOverlap]]): which corpus
    * slices duplicate each other, before mixture weights are chosen. */
  private def t102SourceOverlap(s: SparkSession, dir: String): DataFrame =
    graft.llm.Decontaminate.crossSourceOverlap(t(s, dir, "documents"),
        "source", "text", n = 8)
      .orderBy(col("src_a"), col("src_b"))

  /** Chunk → pack composition: the RAG/long-context prep pipeline —
    * overlapping 32-token chunks, then GPT-style concat-and-chunk
    * packing of the chunk stream into 64-token context blocks via the
    * distributed prefix sum (no global-sort window; chunk order is the
    * dense (doc_id, chunk_id) key). */
  private def t103ChunkPack(s: SparkSession, dir: String): DataFrame = {
    val chunks = graft.llm.Chunking.chunkWindows(t(s, dir, "documents"),
      "doc_id", "text", chunkSize = 32, stride = 24)
    // unique, order-preserving pack key; chunk_id < 4096 at any doc
    // length the corpus can hold (chunks ≈ tokens/24)
    val keyed = chunks.select(
      (col("doc_id") * 4096 + col("chunk_id")).as("pack_key"),
      col("n_chunk_tokens"))
    Packing.packBlocks(keyed, "pack_key", col("n_chunk_tokens"), blockTokens = 64)
      .select((col("pack_key") / 4096).cast("long").as("doc_id"),
        pmod(col("pack_key"), lit(4096)).as("chunk_id"),
        col("n_tokens"), col("start_tok"), col("start_block"), col("end_block"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** Per-source corpus report card: the "data card" aggregate a
    * curation run publishes — doc/token counts, exact-dup rate, token
    * length profile. One thin groupBy over per-doc scalars; all
    * integer-exact (ppm floors, integer division). */
  private def t104CorpusReport(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{fingerprint, tokenCount}
    t(s, dir, "documents")
      .select(col("source"), fingerprint(col("text")).as("fp"),
        tokenCount(col("text")).cast("long").as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
        count_distinct(col("fp")).as("n_distinct"), max(col("nt")).as("max_tokens"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("n_docs") - col("n_distinct")).as("n_dup_docs"),
        expr("(n_docs - n_distinct) * 1000000 div n_docs").as("dup_ppm"),
        expr("n_tokens * 1000000 div n_docs").as("mean_tokens_ppm"),
        col("max_tokens"))
      .orderBy(col("source"))
  }

  /** Data-card length distribution: exact nearest-rank p50/p90/p99
    * token length per source via the bounded histogram-CDF
    * ([[graft.operators.Sampling.exactQuantilesPpm]] — no global sort;
    * the t98 curriculum-bins idiom applied to quantile statistics). */
  private def t111ReportQuantiles(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokenCount
    val d = t(s, dir, "documents")
      .select(col("source"), tokenCount(col("text")).cast("long").as("nt"))
    graft.operators.Sampling.exactQuantilesPpm(d, "source", "nt",
        Seq("p50_tokens" -> 500000L, "p90_tokens" -> 900000L,
          "p99_tokens" -> 990000L))
      .orderBy(col("source"))
  }

  /** Quality-threshold selectivity sweep
    * ([[graft.operators.Sampling.thresholdSweep]]) over the t78
    * unigram-LM score: documents and tokens kept at each candidate
    * cutoff — the tuning table behind a filter decision. One histogram
    * pass over the corpus; candidate thresholds are control-plane. */
  private def t113ThresholdSweep(s: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis.unigramLogProbPpm(t(s, dir, "documents"),
      "doc_id", "text")
    graft.operators.Sampling.thresholdSweep(scored, "avg_logprob_ppm",
        col("n_tokens"),
        Seq(-5000000L, -4930000L, -4920000L, -4910000L,
          -4905000L, -4900000L, -4890000L))
      .orderBy(col("threshold"))
  }

  /** Cross-source preference dedup (the Dolma/RefinedWeb "keep the
    * curated copy" rule): among exact-duplicate documents, the survivor
    * comes from the highest-priority source (here: lower src-index =
    * more curated; ties break on doc id). Exact-dup cliques from the
    * thin fingerprint self-join feed
    * [[graft.llm.Dedup.dedupByPairsKeepBest]] with the source priority
    * as the score — the t89 keep-best machinery composed with a
    * source-rank scorer instead of a quality model. */
  private def t114SourcePrefSurvivors(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.fingerprint
    val docs = t(s, dir, "documents")
      .withColumn("src_prio", -substring(col("source"), 4, 10).cast("int"))
    val fps = docs.select(col("doc_id").as("id"), fingerprint(col("text")).as("fp"))
    val pairs = fps.as("a").join(fps.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
    Dedup.dedupByPairsKeepBest(docs, "doc_id", "src_prio", pairs, "a_id", "b_id")
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** Fuzzy-key dedup end to end: pigeonhole Hamming pairs → distributed
    * connected components → min-id survivors (the removal a user
    * actually runs; t100 reports the pairs). */
  private def t105FuzzySurvivors(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.fuzzyKeyPairs(docs, "doc_id", "text", keyLen = 64, maxDist = 3)
    Dedup.dedupByPairs(docs, "doc_id", pairs, "a_id", "b_id")
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** Corpus snapshot diff ([[graft.llm.Dedup.corpusDiff]]): churn audit
    * between two simulated corpus versions — v_old drops every 7th doc,
    * v_new drops every 5th and revises every 11th. */
  private def t106CorpusDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val vOld = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
    val vNew = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      .withColumn("text", when(pmod(col("doc_id"), lit(11)) === 0,
        concat(col("text"), lit(" rev2"))).otherwise(col("text")))
    Dedup.corpusDiff(vOld, vNew, "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** Serial near-duplication audit
    * ([[graft.llm.TextAnalysis.consecutiveOverlapF1]]): 3-gram set F1
    * between each doc and its successor within a source. */
  private def t107OverlapF1(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.consecutiveOverlapF1(t(s, dir, "documents"),
        "doc_id", "text", "source", n = 3)
      .orderBy(col("source"), col("a_id"))

  /** Soft dedup by downsampling ([[graft.llm.Dedup.dedupDownsample]]):
    * hash-uniform 1/|group| survival instead of hard min-id removal. */
  private def t108DedupDownsample(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupDownsample(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Label-centroid separation report
    * ([[graft.llm.Similarity.labelCentroidCosines]]): pairwise cosine
    * between per-label embedding centroids, integer-ppm exact. */
  private def t109LabelCentroids(s: SparkSession, dir: String): DataFrame =
    Similarity.labelCentroidCosines(t(s, dir, "embeddings"),
        "label", "embedding")
      .select(col("label_a").cast("long").as("label_a"),
        col("label_b").cast("long").as("label_b"), col("cos_ppm"))
      .orderBy(col("label_a"), col("label_b"))

  // ====================================================================

  /** Queries that exist as VERIFICATION BASELINES, not production paths:
    * deliberately-complete O(n²) forms whose only role is to grade the
    * bucketed production variants (t27 is the oracle for t45/t72/t73;
    * t28 grades every ANN index — t31/t49/t83/t112). They stay in the
    * sf0.1 correctness and bench contract (the driver's runs are
    * unchanged), but any SCALED profile — [[SlopeGate]], a future sf1+
    * bench — must exclude them: their cost is quadratic by CONTRACT, so
    * timing them at scale measures the contract, not the engine.
    * [[Bench]] honors the tag when `SPARK_GRAFT_SCALE_PROFILE` is set. */
  val oracleOnly: Set[String] = Set("t27_embed_near_dup", "t28_knn_brute")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t106_corpus_diff" -> t106CorpusDiff _,
    "t107_overlap_f1" -> t107OverlapF1 _,
    "t108_dedup_downsample" -> t108DedupDownsample _,
    "t109_label_centroids" -> t109LabelCentroids _,
    "t105_fuzzy_survivors" -> t105FuzzySurvivors _,
    "t104_corpus_report" -> t104CorpusReport _,
    "t103_chunk_pack" -> t103ChunkPack _,
    "t102_source_overlap" -> t102SourceOverlap _,
    "t101_intradoc_line_dedup" -> t101IntradocLineDedup _,
    "t100_fuzzy_key_pairs" -> t100FuzzyKeyPairs _,
    "t99_chunk_windows" -> t99ChunkWindows _,
    "t98_curriculum_bins" -> t98CurriculumBins _,
    "t97_bm25_index_roundtrip" -> t97Bm25IndexRoundtrip _,
    "t110_bm25_incremental" -> t110Bm25Incremental _,
    "t119_bm25_pruned" -> t119Bm25Pruned _,
    "t111_report_quantiles" -> t111ReportQuantiles _,
    "t112_knn_ivf_incremental" -> t112KnnIvfIncremental _,
    "t113_threshold_sweep" -> t113ThresholdSweep _,
    "t115_ivf_drift" -> t115IvfDrift _,
    "t116_decontaminate_spans" -> t116DecontaminateSpans _,
    "t117_variant_extract" -> t117VariantExtract _,
    "t118_variant_shred" -> t118VariantShred _,
    "t114_source_pref_survivors" -> t114SourcePrefSurvivors _,
    "t96_curation_pipeline" -> t96CurationPipeline _,
    "t95_scrub_dup_spans" -> t95ScrubDupSpans _,
    "t94_langid_nb" -> t94LangIdNb _,
    "t93_bm25_seed_select" -> t93Bm25SeedSelect _,
    "t92_bm25_topk" -> t92Bm25TopK _,
    "t91_shard_assign" -> t91ShardAssign _,
    "t90_c4_filter" -> t90C4Filter _,
    "t89_survivors_keep_best" -> t89SurvivorsKeepBest _,
    "t88_tfidf_terms" -> t88TfidfTerms _,
    "t87_dup_spans" -> t87DupSpans _,
    "t86_quality_classifier" -> t86QualityClassifier _,
    "t85_dsir_sample" -> t85DsirSample _,
    "t84_bigram_logprob" -> t84BigramLogprob _,
    "t83_knn_pq" -> t83KnnPq _,
    "t82_line_dedup" -> t82LineDedup _,
    "t81_index_scrub" -> t81IndexScrub _,
    "t80_mixture_waterfill" -> t80MixtureWaterfill _,
    "t79_semdedup_delta" -> t79SemDedupDelta _,
    "t78_unigram_logprob" -> t78UnigramLogprob _,
    "t77_temperature_mix" -> t77TemperatureMix _,
    "t76_containment" -> t76Containment _,
    "t75_bin_packing" -> t75BinPacking _,
    "t74_semantic_decontaminate" -> t74SemanticDecontaminate _,
    "t73_semdedup_survivors" -> t73SemDedupSurvivors _,
    "t69_rare_tokens" -> t69RareTokens _,
    "t70_gopher_filter" -> t70GopherFilter _,
    "t71_url_stats" -> t71UrlStats _,
    "t72_semdedup" -> t72SemDedup _,
    "t66_pii_scrub" -> t66PiiScrub _,
    "t67_repetition" -> t67Repetition _,
    "t68_sequence_packing" -> t68SequencePacking _,
    "q61_json_roundtrip" -> q61JsonRoundtrip _,
    "q62_orc_roundtrip" -> q62OrcRoundtrip _,
    "q63_stratified_sample" -> q63StratifiedSample _,
    "q01_pricing_summary" -> q01PricingSummary _,
    "q02_revenue_filter" -> q02RevenueFilter _,
    "q03_top_revenue_orders" -> q03TopRevenueOrders _,
    "q04_priority_exists" -> q04PriorityExists _,
    "q05_region_revenue" -> q05RegionRevenue _,
    "q06_anti_join" -> q06AntiJoin _,
    "q07_top_orders_per_customer" -> q07TopOrdersPerCustomer _,
    "q08_running_events" -> q08RunningEvents _,
    "q09_setops" -> q09SetOps _,
    "q10_rollup" -> q10Rollup _,
    "q11_date_scalar" -> q11DateScalar _,
    "q12_having" -> q12Having _,
    "q13_distinct" -> q13Distinct _,
    "q14_count_distinct" -> q14CountDistinct _,
    "q15_events_hourly" -> q15EventsHourly _,
    "q16_merge_upsert" -> q16MergeUpsert _,
    "q17_latest_event_per_user" -> q17LatestEventPerUser _,
    "q18_clean_docs" -> q18CleanDocs _,
    "q19_csv_roundtrip" -> q19CsvRoundtrip _,
    "q20_version_gate" -> q20VersionGate _,
    "q33_sql_subquery" -> q33SqlSubquery _,
    "q34_cube" -> q34Cube _,
    "q35_json_extract" -> q35JsonExtract _,
    "q36_asof_join" -> q36AsofJoin _,
    "q37_percentiles" -> q37Percentiles _,
    "q38_sessionize" -> q38Sessionize _,
    "q39_multiset_ops" -> q39MultisetOps _,
    "q40_scalar_battery" -> q40ScalarBattery _,
    "q41_date_battery" -> q41DateBattery _,
    "q42_collect_sorted" -> q42CollectSorted _,
    "q43_limit_offset" -> q43LimitOffset _,
    "q47_grouping_sets" -> q47GroupingSets _,
    "q48_typed_topk" -> q48TypedTopK _,
    "q49_pivot" -> q49Pivot _,
    "q51_correlated_subquery" -> q51CorrelatedSubquery _,
    "q52_asof_native" -> q52AsofNative _,
    "q53_range_join" -> q53RangeJoin _,
    "q60_sql_interval_join" -> q60SqlIntervalJoin _,
    "q54_nation_volume" -> q54NationVolume _,
    "q55_top_supplier" -> q55TopSupplier _,
    "q56_conditional_agg" -> q56ConditionalAgg _,
    "q57_hash_sample" -> q57HashSample _,
    "q50_unpivot" -> q50Unpivot _,
    "t47_word_count" -> t47WordCount _,
    "t48_multimodal" -> t48Multimodal _,
    "t33_sql_custom_fn" -> t33SqlCustomFn _,
    "t44_distinct_exact" -> t44DistinctExact _,
    "t62_distinct_approx" -> t62DistinctApprox _,
    "t61_bpe_merges" -> t61BpeMerges _,
    "t45_embed_lsh" -> t45EmbedLsh _,
    "t46_winnowing" -> t46Winnowing _,
    "t120_winnowing_capped" -> t120WinnowingCapped _,
    "t121_winnowing_delta" -> t121WinnowingDelta _,
    "t122_containment_capped" -> t122ContainmentCapped _,
    "t123_containment_delta" -> t123ContainmentDelta _,
    "t124_bm25_rerank" -> t124Bm25Rerank _,
    "t125_phash_pairs" -> t125PhashPairs _,
    "t126_audiofp_pairs" -> t126AudiofpPairs _,
    "t127_phash_delta" -> t127PhashDelta _,
    "t128_curation_e2e" -> t128CurationE2e _,
    "t129_knn_graph_nsw" -> t129KnnGraphNsw _,
    "t130_knn_ivf_pruned" -> t130KnnIvfPruned _,
    "t131_knn_graph_persisted" -> t131KnnGraphPersisted _,
    "t132_ann_drift_recluster" -> t132AnnDriftRecluster _,
    "t133_curation_delta" -> t133CurationDelta _,
    "t134_curation_replace" -> t134CurationReplace _,
    "t135_sql_neardup" -> t135SqlNeardup _,
    "t136_sql_bm25" -> t136SqlBm25 _,
    "t137_sql_curation" -> t137SqlCuration _,
    "t138_sql_ann" -> t138SqlAnn _,
    "t139_curation_multibatch" -> t139CurationMultibatch _,
    "t140_neardup_indexed" -> t140NeardupIndexed _,
    "t141_curation_indexed" -> t141CurationIndexed _,
    "t142_neardup_store" -> t142NeardupStore _,
    "t143_containment_indexed" -> t143ContainmentIndexed _,
    "t144_winnowing_indexed" -> t144WinnowingIndexed _,
    "t145_containment_store" -> t145ContainmentStore _,
    "t146_winnowing_store" -> t146WinnowingStore _,
    "t147_minhash_store" -> t147MinhashStore _,
    "t148_fuzzy_store" -> t148FuzzyStore _,
    "t149_store_maintenance" -> t149StoreMaintenance _,
    "t150_winnowing_stream" -> t150WinnowingStream _,
    "t151_ann_hierarchical" -> t151AnnHierarchical _,
    "t152_ann_ivfpq" -> t152AnnIvfPq _,
    "t153_ledger_changed" -> t153LedgerChanged _,
    "t154_semdedup_store" -> t154SemDedupStore _,
    "t155_ann_maintenance" -> t155AnnMaintenance _,
    "t156_semdedup_stream" -> t156SemDedupStream _,
    "t157_ann_hier_drift" -> t157AnnHierDrift _,
    "t158_semdedup_hier" -> t158SemDedupHier _,
    "t159_skew_join" -> t159SkewJoin _,
    "t160_ledger_changed_small" -> t160LedgerChangedSmall _,
    "t161_ledger_store" -> t161LedgerStoreAbsorb _,
    "t162_ledger_stream" -> t162LedgerStream _,
    "t49_knn_ivf_kmeans" -> t49KnnIvfKmeans _,
    "t50_bpe_tokens" -> t50BpeTokens _,
    "t21_fingerprint" -> t21Fingerprint _,
    "t22_tokens" -> t22Tokens _,
    "t23_quality" -> t23Quality _,
    "t24_lang_id" -> t24LangId _,
    "t25_exact_dup_groups" -> t25ExactDupGroups _,
    "t26_jaccard_pairs" -> t26JaccardPairs _,
    "t58_jaccard_clusters" -> t58JaccardClusters _,
    "t59_dedup_survivors" -> t59DedupSurvivors _,
    "t63_decontaminate" -> t63Decontaminate _,
    "t64_incremental_exact" -> t64IncrementalExact _,
    "t65_incremental_minhash" -> t65IncrementalMinhash _,
    "t27_embed_near_dup" -> t27EmbedNearDup _,
    "t28_knn_brute" -> t28KnnBrute _,
    "t29_minhash_lsh" -> t29MinHashLsh _,
    "t30_simhash" -> t30SimHash _,
    "t31_knn_ivf" -> t31KnnIvf _,
    "t32_text_analyze" -> t32TextAnalyze _,
  )

  /** The store/state builds the fixture-backed queries need before
    * their timed probe path — [[Bench]] runs these UNTIMED before a
    * query's reps and reports the build wall as `fixture_build_sec`
    * (r17 verdict item #1: the operational delta probe is the signal
    * the cross-round suspect detector should compare, not the O(corpus)
    * build it used to share a wall-clock with). Each fixture is
    * idempotent (marker-guarded), and every query function ALSO calls
    * its fixture inline, so Verify and ad-hoc callers need no special
    * sequencing. */
  def benchFixtures: Map[String, (SparkSession, String) => Unit] = Map(
    "t110_bm25_incremental" -> t110Fixture _,
    "t139_curation_multibatch" -> t139Fixture _,
    "t141_curation_indexed" -> t141Fixture _,
    "t142_neardup_store" -> t142Fixture _,
    "t143_containment_indexed" -> t143Fixture _,
    "t144_winnowing_indexed" -> t144Fixture _,
    "t145_containment_store" -> t145Fixture _,
    "t146_winnowing_store" -> t146Fixture _,
    "t147_minhash_store" -> t147Fixture _,
    "t148_fuzzy_store" -> t148Fixture _,
    "t149_store_maintenance" -> t149Fixture _,
    "t151_ann_hierarchical" -> t151Fixture _,
    "t152_ann_ivfpq" -> t152Fixture _,
    "t153_ledger_changed" -> t153Fixture _,
    "t154_semdedup_store" -> t154Fixture _,
    "t155_ann_maintenance" -> t155Fixture _,
    "t158_semdedup_hier" -> t158Fixture _,
    "t160_ledger_changed_small" -> t160Fixture _,
    "t161_ledger_store" -> t161Fixture _,
  )

  /** DuckDB twins. Formulas/aliases/order mirror the Spark side exactly.
    * Queries whose logic SQL cannot re-derive (native hashes, sketches,
    * ANN recall, learned BPE) check against [[LiteralOracles]] —
    * machine-generated expected rows from an sf0.01 run, valid because
    * each output is a deterministic partitioning-independent
    * integer-valued function of the fixed test data. */
  def oracleSql: Map[String, String] = {
    val norm = """trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"""
    val toks = s"string_split($norm, ' ')"
    // ONE copy of the BM25 ranking CTE chain — t92/t97/t110 embed it
    // whole and t93 extends it; a scoring-math fix (idf clamp, ppm
    // epsilon, tie-break) must not need four synchronized edits.
    def bm25RankCtes(tk: String): String = {
      val bmK1 = 1.2; val bmB = 0.75
      val c1 = (bmK1 + 1).toString
      val c2 = (bmK1 * (1 - bmB)).toString
      val c3 = (bmK1 * bmB).toString
      s"""WITH dk AS (SELECT doc_id, $tk AS tk FROM documents),
          p AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, unnest(tk) AS term FROM dk) GROUP BY doc_id, term),
          dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM p GROUP BY doc_id),
          st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS total FROM dl),
          qt AS (SELECT DISTINCT query_id, term FROM (
            SELECT doc_id AS query_id, unnest(tk[1:5]) AS term FROM dk WHERE doc_id % 100 = 0)),
          dfT AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY term),
          sc AS (SELECT qt.query_id, p.doc_id,
              CAST(floor(
                ln((CAST((SELECT n FROM st) - dfT.df AS DOUBLE) + 0.5)
                    / (CAST(dfT.df AS DOUBLE) + 0.5) + 1.0)
                * (CAST(p.tf AS DOUBLE) * $c1)
                / (CAST(p.tf AS DOUBLE) + $c2
                   + $c3 * CAST(dl.dl AS DOUBLE)
                     * CAST((SELECT n FROM st) AS DOUBLE) / CAST((SELECT total FROM st) AS DOUBLE))
                * 1000000.0 + 0.0001) AS BIGINT) AS term_ppm
            FROM qt JOIN p USING (term) JOIN dfT USING (term) JOIN dl ON p.doc_id = dl.doc_id),
          ag AS (SELECT query_id, doc_id, CAST(sum(term_ppm) AS BIGINT) AS score_ppm
            FROM sc GROUP BY query_id, doc_id),
          rk AS (SELECT query_id, doc_id, score_ppm,
            CAST(row_number() OVER (PARTITION BY query_id ORDER BY score_ppm DESC, doc_id) AS BIGINT) AS rank
            FROM ag)"""
    }
    val bm25TopK5 =
      """
          SELECT query_id, doc_id, score_ppm, rank FROM rk WHERE rank <= 5
          ORDER BY query_id, rank"""
    // the weak-label hashed-NB chain seeded by BM25 top-5 (t86's model
    // math over t92's retrieval) — shared by t93 and t124, same
    // single-copy rationale as bm25RankCtes
    val nbSeedCtes = s""",
          seed AS (SELECT DISTINCT doc_id FROM rk WHERE rank <= 5),
          b AS (SELECT doc_id, doc_id IN (SELECT doc_id FROM seed) AS y, tk FROM dk),
          f AS (SELECT doc_id, y, unnest(tk) AS feat FROM b),
          fb AS (SELECT doc_id, y,
            CAST(('0x' || substring(md5(feat), 1, 12)) AS BIGINT) % 256 AS bucket FROM f),
          db AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS n FROM fb GROUP BY 1, 2),
          cls AS (SELECT bucket,
              CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS cp,
              CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS cn FROM fb GROUP BY 1),
          tot AS (SELECT CAST(sum(cp) AS BIGINT) AS np, CAST(sum(cn) AS BIGINT) AS nn FROM cls),
          pri AS (SELECT CAST(floor(ln(CAST((SELECT count(*) FROM b WHERE y) AS DOUBLE)
                / CAST((SELECT count(*) FROM b WHERE NOT y) AS DOUBLE)) * 1000000.0 + 0.0001) AS BIGINT) AS p),
          w AS (SELECT bucket,
            CAST(floor((ln(CAST(cp + 1 AS DOUBLE) / CAST((SELECT np FROM tot) + 256 AS DOUBLE))
                      - ln(CAST(cn + 1 AS DOUBLE) / CAST((SELECT nn FROM tot) + 256 AS DOUBLE)))
                * 1000000.0 + 0.0001) AS BIGINT) AS w_ppm
            FROM cls),
          docw AS (SELECT db.doc_id, CAST(sum(db.n) AS BIGINT) AS n_feats,
              CAST(sum(db.n * w.w_ppm) AS BIGINT) AS sum_w
            FROM db JOIN w USING (bucket) GROUP BY 1)"""
    // langId in DuckDB, generated from TextFunctions.LangMarkers so the
    // two engines can never desync when marker sets change (t24, t32)
    val langScoreCols = TextFunctions.LangMarkers.map { case (lang, words) =>
      s"len(list_filter($toks, tk -> list_contains([${words.map(w => s"'$w'").mkString(",")}], tk))) AS c_$lang"
    }.mkString(",\n            ")
    val langGreatest = s"greatest(${TextFunctions.LangMarkers.map(m => s"c_${m._1}").mkString(", ")})"
    val langCases = TextFunctions.LangMarkers.map { case (lang, _) =>
      s"WHEN c_$lang = $langGreatest AND $langGreatest > 0 THEN '$lang'"
    }.mkString("\n            ")
    val rawToks = """string_split_regex(trim(text), '\s+')"""
    val nTokens = s"""CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($rawToks) END"""
    val punct = """len(regexp_extract_all(text, '[.,;:!?''"()\[\]{}-]'))"""
    val digits = """len(regexp_extract_all(text, '[0-9]'))"""
    val stops = s"""len(list_filter($toks, tk -> list_contains(['the','a','an','and','or','of','to','in','is','it'], tk)))"""
    val shingles = s"""CASE WHEN len($toks) >= 3
        THEN list_distinct(list_transform(range(1, len($toks) - 1), i -> $toks[i] || ' ' || $toks[i+1] || ' ' || $toks[i+2]))
        ELSE [array_to_string($toks, ' ')] END"""
    // 8-gram twin of TextFunctions.shingleSet(_, 8) (decontamination
    // n-grams): slice-based because 8 positional concats would be noise
    val grams8 = s"""CASE WHEN len($toks) >= 8
        THEN list_distinct(list_transform(range(1, len($toks) - 6), i -> array_to_string($toks[i:i+7], ' ')))
        ELSE [array_to_string($toks, ' ')] END"""
    // ordered (multiset) n-gram twins of TextFunctions.wordShingles —
    // NON-distinct, for the duplicate-shingle repetition signal
    def gramsAll(n: Int) = s"""CASE WHEN len($toks) >= $n
        THEN list_transform(range(1, len($toks) - ${n - 2}), i -> array_to_string($toks[i:i+${n - 1}], ' '))
        ELSE [array_to_string($toks, ' ')] END"""
    def dupFracPpm(n: Int) =
      s"""CAST(floor((1.0 - CAST(len(list_distinct(${gramsAll(n)})) AS DOUBLE)
        / greatest(CAST(len(${gramsAll(n)}) AS DOUBLE), 1.0)) * 1000000.0) AS BIGINT)"""
    // twins of TextFunctions.meanWordLenPpm / punctPerTokenPpm
    val meanWordLenPpm =
      s"""CAST(floor(CAST(coalesce(list_sum(list_transform($toks, tk -> length(tk))), 0) AS DOUBLE)
        / greatest(CAST(len($toks) AS DOUBLE), 1.0) * 1000000.0) AS BIGINT)"""
    val punctPerTokenPpm =
      s"""CAST(floor(CAST($punct AS DOUBLE) / greatest(CAST($nTokens AS DOUBLE), 1.0) * 1000000.0) AS BIGINT)"""
    // t66's dirty-text twin (same doc_id-derived synthetic PII as the
    // Spark side) and its redaction patterns — pulled from PiiRules so
    // the oracle can never drift from the engine's rule list
    val Seq(emailPat, ipPat, numPat) = TextFunctions.PiiRules.map(_._1)
    val dirtyText =
      """text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
        || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR)
        || ' tel ' || lpad(CAST((doc_id * 7919) % 10000000 AS VARCHAR), 7, '0')"""
    // Bit-exact twin of VectorFunctions.cosine: double-cast elements,
    // sequential left-to-right accumulation (duckdb list_inner_product
    // accumulates in float32 — off by an ulp, enough to flip a floor()).
    def ddot(x: String, y: String) =
      s"list_sum(list_transform(list_zip($x, $y), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))"
    val cosNorms = s"sqrt(${ddot("a.embedding", "a.embedding")}) * sqrt(${ddot("b.embedding", "b.embedding")})"
    val cosine = s"""CASE WHEN $cosNorms = 0 THEN 0.0
        ELSE ${ddot("a.embedding", "b.embedding")} / ($cosNorms) END"""

    val base = Map(
      "q01_pricing_summary" ->
        """SELECT l_returnflag, l_linestatus,
          sum(l_quantity) AS sum_qty,
          CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
          CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_disc_price,
          CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_charge,
          avg(l_quantity) AS avg_qty,
          CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 / count(*) AS avg_price,
          CAST(sum(CAST(round(l_discount * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 / count(*) AS avg_disc,
          count(*) AS count_order
          FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-06-30'
          GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
      "q02_revenue_filter" ->
        """SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
          count(*) AS n_rows
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""",
      "q03_top_revenue_orders" ->
        """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
          CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1999-01-01'
          AND l_shipdate > TIMESTAMP '1999-01-01'
          GROUP BY o_orderkey, CAST(o_orderdate AS DATE)
          ORDER BY revenue DESC, o_orderkey LIMIT 10""",
      "q04_priority_exists" ->
        """SELECT o_orderpriority, count(*) AS order_count FROM orders
          WHERE EXISTS (SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
          GROUP BY o_orderpriority ORDER BY o_orderpriority""",
      "q05_region_revenue" ->
        """SELECT r_name, n_name,
          CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
          count(*) AS n_items
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY r_name, n_name ORDER BY r_name, n_name""",
      "q06_anti_join" ->
        """SELECT c_mktsegment, count(*) AS n_customers,
          CAST(sum(CAST(round(c_acctbal * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_bal
          FROM customer WHERE NOT EXISTS
            (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
          GROUP BY c_mktsegment ORDER BY c_mktsegment""",
      "q07_top_orders_per_customer" ->
        """SELECT o_custkey, rank, o_orderkey, o_totalprice FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
            row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rank
            FROM orders) WHERE rank <= 3 ORDER BY o_custkey, rank""",
      "q08_running_events" ->
        """SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
          lag(event_type, 1) OVER w AS prev_type,
          CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
          ORDER BY user_id, ts_us, event_id""",
      "q09_setops" ->
        """WITH a AS (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000),
          b AS (SELECT DISTINCT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING')
          SELECT
          (SELECT count(*) FROM (SELECT custkey FROM a UNION SELECT custkey FROM b)) AS union_cnt,
          (SELECT count(*) FROM (SELECT custkey FROM a INTERSECT SELECT custkey FROM b)) AS intersect_cnt,
          (SELECT count(*) FROM (SELECT custkey FROM a EXCEPT SELECT custkey FROM b)) AS except_cnt""",
      "q10_rollup" ->
        """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n
          FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
          ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
      "q11_date_scalar" ->
        """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
          CAST(month(o_orderdate) AS BIGINT) AS o_month,
          split_part(o_orderpriority, '-', 1) AS prio_code,
          CASE WHEN o_totalprice < 50000 THEN 'low'
               WHEN o_totalprice < 150000 THEN 'mid' ELSE 'high' END AS price_band,
          count(*) AS n,
          CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
          FROM orders GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""",
      "q12_having" ->
        """SELECT l_suppkey, s_name, sum_qty, n_items FROM (
            SELECT l_suppkey, sum(l_quantity) AS sum_qty, count(*) AS n_items
            FROM lineitem GROUP BY l_suppkey HAVING sum(l_quantity) > 100)
          JOIN supplier ON l_suppkey = s_suppkey ORDER BY l_suppkey""",
      "q13_distinct" ->
        """SELECT DISTINCT l_returnflag, l_linestatus, l_tax FROM lineitem
          ORDER BY l_returnflag, l_linestatus, l_tax""",
      "q14_count_distinct" ->
        """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_customers,
          count(*) AS n_orders, max(o_totalprice) AS max_price
          FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
      "q15_events_hourly" ->
        """SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us, event_type,
          count(*) AS n, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
          FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
      "q16_merge_upsert" ->
        """WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
            FROM orders WHERE o_orderkey % 3 <> 0),
          delta AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 1.1 AS o_totalprice
            FROM orders WHERE o_orderkey % 2 = 0)
          SELECT
            CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_orderkey ELSE b.o_orderkey END AS o_orderkey,
            CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_custkey ELSE b.o_custkey END AS o_custkey,
            CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_orderstatus ELSE b.o_orderstatus END AS o_orderstatus,
            CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_totalprice ELSE b.o_totalprice END AS o_totalprice
          FROM base b FULL OUTER JOIN delta d ON b.o_orderkey = d.o_orderkey
          ORDER BY o_orderkey""",
      "q17_latest_event_per_user" ->
        """SELECT user_id, ts_us, event_id, event_type, value FROM (
            SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value,
            row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
            FROM events) WHERE rn = 1 ORDER BY user_id""",
      "q18_clean_docs" ->
        """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM (
            SELECT DISTINCT * FROM documents
            WHERE doc_id IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL
              AND source IS NOT NULL AND n_chars IS NOT NULL)
          GROUP BY lang ORDER BY lang""",
      "q19_csv_roundtrip" ->
        "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
      "q20_version_gate" ->
        """WITH wm AS (SELECT o_orderstatus AS st, max(o_orderkey) AS wm
            FROM orders WHERE o_orderkey <= 3000 GROUP BY o_orderstatus)
          SELECT o_orderstatus, o_orderkey FROM orders JOIN wm ON o_orderstatus = st
          WHERE o_orderkey > wm ORDER BY o_orderstatus, o_orderkey""",
      "q33_sql_subquery" ->
        """SELECT l.l_partkey, count(*) AS n, sum(l.l_quantity) AS sum_qty
          FROM lineitem l
          JOIN (SELECT l_partkey, avg(l_quantity) AS aq FROM lineitem GROUP BY l_partkey) p
            ON l.l_partkey = p.l_partkey
          WHERE l.l_quantity < p.aq
          GROUP BY l.l_partkey ORDER BY l.l_partkey""",
      "q34_cube" ->
        """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n
          FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
          ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
      "q35_json_extract" ->
        """SELECT k % 10 AS bucket, count(*) AS n, min(k) AS min_k, max(k) AS max_k
          FROM (SELECT CAST(regexp_extract(props, '"k":\s*([0-9]+)', 1) AS BIGINT) AS k FROM events)
          GROUP BY 1 ORDER BY 1""",
      "q36_asof_join" ->
        """WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
            WHERE event_type = 'purchase'),
          c0 AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
            row_number() OVER (PARTITION BY user_id, epoch_us(ts) ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'click'),
          c AS (SELECT user_id, ts_us, event_id AS click_event_id FROM c0 WHERE rn = 1)
          SELECT p.user_id, p.event_id, p.ts_us, c.ts_us AS asof_ts_us, c.click_event_id
          FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts_us >= c.ts_us
          ORDER BY p.user_id, p.ts_us, p.event_id""",
      "q52_asof_native" ->
        """WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
            WHERE event_type = 'purchase'),
          c0 AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
            row_number() OVER (PARTITION BY user_id, epoch_us(ts) ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'click'),
          c AS (SELECT user_id, ts_us, event_id AS click_event_id FROM c0 WHERE rn = 1)
          SELECT p.user_id, p.event_id, p.ts_us, c.ts_us AS asof_ts_us, c.click_event_id
          FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts_us >= c.ts_us
          ORDER BY p.user_id, p.ts_us, p.event_id""",
      "q53_range_join" ->
        """SELECT o_orderkey, count(*) AS n_in_window
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          AND epoch_us(l_shipdate) BETWEEN epoch_us(o_orderdate)
            AND epoch_us(o_orderdate) + 2592000000000
          GROUP BY o_orderkey ORDER BY o_orderkey""",
      "q60_sql_interval_join" ->
        """SELECT b.band_id, count(*) AS n_orders,
          CAST(sum(CAST(round(o.o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents
          FROM orders o
          JOIN (SELECT p_partkey AS band_id,
                       p_retailprice * 50.0 AS lo,
                       p_retailprice * 50.0 + 40000.0 AS hi
                FROM part WHERE p_partkey % 100 = 0) b
            ON o.o_totalprice BETWEEN b.lo AND b.hi
          GROUP BY b.band_id ORDER BY b.band_id""",
      "q54_nation_volume" ->
        """SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
          CAST(year(l_shipdate) AS BIGINT) AS l_year,
          CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0 AS volume,
          count(*) AS n
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation n1 ON c_nationkey = n1.n_nationkey
          JOIN nation n2 ON s_nationkey = n2.n_nationkey
          WHERE n1.n_name <> n2.n_name
          AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
          GROUP BY 1, 2, 3 HAVING count(*) >= 5 ORDER BY 1, 2, 3""",
      "q55_top_supplier" ->
        """WITH rev AS (SELECT l_suppkey,
            sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000.0) AS BIGINT)) AS rev_e4
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-07-01'
          GROUP BY l_suppkey)
          SELECT s_suppkey, s_name, CAST(rev_e4 AS DOUBLE) / 10000 AS total_revenue
          FROM rev JOIN supplier ON l_suppkey = s_suppkey
          WHERE rev_e4 = (SELECT max(rev_e4) FROM rev)
          ORDER BY s_suppkey""",
      "q56_conditional_agg" ->
        """SELECT l_returnflag,
          CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
          CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE l_shipdate > o_orderdate
          GROUP BY l_returnflag ORDER BY l_returnflag""",
      "q57_hash_sample" ->
        """WITH u AS (SELECT *,
            CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) / 281474976710656.0 AS hu
          FROM documents)
          SELECT CASE WHEN hu < 0.2 THEN 'test' WHEN hu < 0.3 THEN 'valid' ELSE 'train' END AS split,
            lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
          FROM u WHERE hu < 0.5
          GROUP BY 1, 2 ORDER BY 1, 2""",
      "q37_percentiles" ->
        """SELECT l_returnflag,
          quantile_cont(l_quantity, 0.5) AS p50_qty,
          quantile_cont(l_quantity, 0.25) AS p25_qty,
          quantile_cont(l_extendedprice, 0.75) AS p75_price,
          quantile_cont(l_extendedprice, 0.99) AS p99_price
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
      "q38_sessionize" ->
        """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value FROM events),
          flag AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
              OR ts_us - lag(ts_us) OVER w > 21600000000 THEN 1 ELSE 0 END AS new_sess
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
          sess AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM flag)
          SELECT user_id, CAST(sid AS BIGINT) AS sid,
            min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
            count(*) AS n_events, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
          FROM sess GROUP BY user_id, sid ORDER BY user_id, sid""",
      "q39_multiset_ops" ->
        """WITH a AS (SELECT l_returnflag FROM lineitem WHERE l_quantity < 10),
          b AS (SELECT l_returnflag FROM lineitem WHERE l_discount > 0.08),
          ex AS (SELECT 'except_all' AS op, l_returnflag, count(*) AS n
            FROM (SELECT l_returnflag FROM a EXCEPT ALL SELECT l_returnflag FROM b) GROUP BY 2),
          ia AS (SELECT 'intersect_all' AS op, l_returnflag, count(*) AS n
            FROM (SELECT l_returnflag FROM a INTERSECT ALL SELECT l_returnflag FROM b) GROUP BY 2)
          SELECT op, l_returnflag, n FROM ex UNION ALL SELECT op, l_returnflag, n FROM ia
          ORDER BY op, l_returnflag""",
      "q40_scalar_battery" ->
        """SELECT o_orderkey,
          upper(o_orderstatus) AS up,
          substring(o_orderpriority, 3, 6) AS sub,
          reverse(o_orderpriority) AS rev,
          CAST(length(o_orderpriority) AS BIGINT) AS len,
          lpad(o_orderstatus, 3, 'x') AS lp,
          concat(o_orderstatus, '-', o_orderpriority) AS cat,
          translate(o_orderpriority, '-', '_') AS tr,
          coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS nz,
          abs(o_totalprice - 100000) AS absdiff,
          CAST(ceil(o_totalprice) AS BIGINT) AS ceil_p,
          CAST(floor(o_totalprice) AS BIGINT) AS floor_p,
          sqrt(o_totalprice) AS sqrt_p,
          o_orderkey % 7 AS pm,
          greatest(o_totalprice, CAST(o_orderkey AS DOUBLE)) AS gr
          FROM orders ORDER BY o_orderkey""",
      "q41_date_battery" ->
        """SELECT o_orderkey,
          CAST(year(o_orderdate) AS BIGINT) AS y,
          CAST(quarter(o_orderdate) AS BIGINT) AS q,
          CAST(month(o_orderdate) AS BIGINT) AS m,
          CAST(day(o_orderdate) AS BIGINT) AS d,
          CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow_sun1,
          CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
          CAST(datediff('day', DATE '2000-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_2000,
          CAST(o_orderdate AS DATE) + 30 AS plus30,
          CAST(last_day(o_orderdate) AS DATE) AS month_end
          FROM orders ORDER BY o_orderkey""",
      "q43_limit_offset" ->
        """SELECT o_orderkey, o_totalprice FROM orders
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 15 OFFSET 10""",
      "q47_grouping_sets" ->
        """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
          CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
          FROM orders
          GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), (o_orderstatus, o_orderpriority))
          ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
      "q48_typed_topk" ->
        """SELECT o_custkey,
          array_to_string((list(o_orderkey ORDER BY o_totalprice DESC, o_orderkey))[:3], ',') AS top_orderkeys
          FROM orders GROUP BY o_custkey ORDER BY o_custkey""",
      "q51_correlated_subquery" ->
        """SELECT o_orderkey, o_totalprice FROM orders o
          WHERE o_totalprice > (SELECT 30 * coalesce(avg(l_extendedprice), 0)
                                FROM lineitem WHERE l_orderkey = o.o_orderkey)
          ORDER BY o_orderkey""",
      "q49_pivot" ->
        """SELECT o_orderpriority,
          CAST(coalesce(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(round(o_totalprice * 100.0) AS BIGINT) END), 0) AS BIGINT) AS f_cents,
          CAST(coalesce(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(round(o_totalprice * 100.0) AS BIGINT) END), 0) AS BIGINT) AS o_cents,
          CAST(coalesce(sum(CASE WHEN o_orderstatus = 'P' THEN CAST(round(o_totalprice * 100.0) AS BIGINT) END), 0) AS BIGINT) AS p_cents
          FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
      "q50_unpivot" ->
        """WITH u AS (
            SELECT p_partkey, 'p_retailprice' AS attr, p_retailprice AS val FROM part
            UNION ALL
            SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part)
          SELECT attr, count(*) AS n,
            CAST(sum(CAST(round(val * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_val
          FROM u GROUP BY attr ORDER BY attr""",
      "t47_word_count" ->
        s"""SELECT word, count(*) AS n
          FROM (SELECT unnest($toks) AS word FROM documents)
          GROUP BY word ORDER BY n DESC, word LIMIT 100""",
      "t44_distinct_exact" ->
        """SELECT l_returnflag,
          count(DISTINCT l_orderkey) AS exact_orders,
          count(DISTINCT l_partkey) AS exact_parts,
          count(*) AS n_rows
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
      "t61_bpe_merges" -> BpeMergesOracle.sql,
      // literal-VALUES oracles (tools/gen_literal_oracles.py): these
      // queries are deterministic, partitioning-independent functions of
      // the test data whose logic DuckDB cannot re-derive (engine-native
      // seeded hashes/sketches) — pinning the exact rows converts them
      // from rows-only to full hash-checked signal
      "t29_minhash_lsh" -> LiteralOracles.t29,
      "t30_simhash" -> LiteralOracles.t30,
      "t31_knn_ivf" -> LiteralOracles.t31,
      "t45_embed_lsh" -> LiteralOracles.t45,
      "t46_winnowing" -> LiteralOracles.t46,
      "t120_winnowing_capped" -> LiteralOracles.t120,
      "t121_winnowing_delta" -> LiteralOracles.t121,
      "t122_containment_capped" -> LiteralOracles.t122,
      "t123_containment_delta" -> LiteralOracles.t123,
      "t125_phash_pairs" -> LiteralOracles.t125,
      "t126_audiofp_pairs" -> LiteralOracles.t126,
      "t127_phash_delta" -> LiteralOracles.t127,
      "t48_multimodal" -> LiteralOracles.t48,
      "t49_knn_ivf_kmeans" -> LiteralOracles.t49,
      // provenance note: t112's literal rows (like every LiteralOracles
      // entry) are generated from the engine's own sf0.01 output, so the
      // r12 adaptive-nprobe recall floor-raise (0.5 → 0.7) is a
      // self-pinned REGRESSION pin, not independent verification; the
      // independent signal is the query's own floor_ok column (recall vs
      // in-query BRUTE FORCE must clear the floor — brute force is
      // IVF-independent) plus SimilaritySpec's monotonicity and
      // full-escalation == brute pins
      "t112_knn_ivf_incremental" -> LiteralOracles.t112,
      "t129_knn_graph_nsw" -> LiteralOracles.t129,
      // pruning changes what is READ, never the answer: t130 must equal
      // t112's independent literal oracle byte-for-byte
      "t130_knn_ivf_pruned" -> LiteralOracles.t112,
      // persistence + delta maintenance change what is STORED, never the
      // answer: t131 must equal t129's independent literal byte-for-byte
      "t131_knn_graph_persisted" -> LiteralOracles.t129,
      "t132_ann_drift_recluster" -> LiteralOracles.t132,
      // the streamed winnowing emissions telescope to the batch
      // algorithm's full pair set (see t150's Scaladoc) — t46's
      // independent literal byte-for-byte
      "t150_winnowing_stream" -> LiteralOracles.t46,
      "t151_ann_hierarchical" -> LiteralOracles.t151,
      "t152_ann_ivfpq" -> LiteralOracles.t152,
      // SemDeDup through the versioned ANN store: deterministic
      // (decimal-exact stored centroids, index-ordered dots, ppm floor)
      // and partitioning-independent — pinned identical at 8 and 32
      // threads; probe == batch twin proved in AnnIndexStoreSpec
      "t154_semdedup_store" -> LiteralOracles.t154,
      // search across the store's auto-triggered compaction: the
      // maintained layout must answer exactly like the stitched one
      // (invariance pinned in AnnIndexStoreSpec; census deterministic)
      "t155_ann_maintenance" -> LiteralOracles.t155,
      // streamed emissions telescope to the batch SemDeDup at the
      // first micro-batch's frozen centroids (see t156's Scaladoc);
      // deterministic two-file intake → literal, pinned at 8+32 threads
      "t156_semdedup_stream" -> LiteralOracles.t156,
      // t132's drift loop on a hierarchical store: integer checksums
      // over the post-maintenance routed search (deterministic —
      // decimal centroids, total-order ties; recluster == fresh
      // hierarchical build pinned in AnnIndexStoreSpec)
      "t157_ann_hier_drift" -> LiteralOracles.t157,
      // two-level SemDeDup probe == the frozen two-level batch twin
      // (AnnIndexStoreSpec); deterministic like t154 → literal
      "t158_semdedup_hier" -> LiteralOracles.t158,
      "t115_ivf_drift" -> LiteralOracles.t115,
      "t50_bpe_tokens" -> LiteralOracles.t50,
      "t62_distinct_approx" -> LiteralOracles.t62,
      "t65_incremental_minhash" -> LiteralOracles.t65,
      // Zipf-skewed join: the remap is pure integer CASE logic, the
      // aggregate exact cents — SQL re-derives it verbatim (the AQE
      // skew-split behavior itself is gated plan-side in ScaleSpec;
      // the oracle pins that splitting never changes answers)
      "t159_skew_join" ->
        """SELECT o_orderpriority, count(*) AS n_li,
          CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
          FROM lineitem JOIN orders
            ON (CASE WHEN l_orderkey % 100 < 90 THEN 1 ELSE l_orderkey END) = o_orderkey
          GROUP BY o_orderpriority ORDER BY o_orderpriority""",
      "t33_sql_custom_fn" ->
        """SELECT vec_id,
          list_sum(list_transform(list_zip(embedding, embedding),
            s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))) AS norm_sq
          FROM embeddings ORDER BY vec_id""",
      "q42_collect_sorted" ->
        """SELECT o_orderpriority,
          array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
          count(DISTINCT o_orderstatus) AS n_statuses, count(*) AS n
          FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
      "t21_fingerprint" ->
        s"SELECT doc_id, md5($norm) AS fp FROM documents ORDER BY doc_id",
      "t22_tokens" ->
        s"""SELECT doc_id, CAST($nTokens AS BIGINT) AS n_tokens,
          CAST(len(regexp_extract_all($norm, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_subwords,
          CAST(length(text) AS BIGINT) AS len_chars
          FROM documents ORDER BY doc_id""",
      "t23_quality" ->
        s"""SELECT doc_id, CAST($punct AS BIGINT) AS n_punct,
          CAST($digits AS BIGINT) AS n_digits, CAST($stops AS BIGINT) AS n_stopwords,
          round(greatest(0.0, least(1.0,
            0.4 * least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
            + 0.4 * least(CAST($stops AS DOUBLE) / greatest(CAST($nTokens AS DOUBLE), 1.0) * 4.0, 1.0)
            + 0.2 * (1.0 - least((CAST($punct AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0)
                + CAST($digits AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 5.0, 1.0)))), 6) AS quality
          FROM documents ORDER BY doc_id""",
      // generated from TextFunctions.LangMarkers, so marker-set edits
      // can never desync the two engines
      "t24_lang_id" ->
        s"""WITH sc AS (SELECT doc_id,
            $langScoreCols
          FROM documents)
          SELECT doc_id, CASE
            $langCases
            ELSE 'und' END AS lang_pred
          FROM sc ORDER BY doc_id""",
      "t25_exact_dup_groups" ->
        s"""SELECT md5($norm) AS fp, min(doc_id) AS keep_id, count(*) AS group_size
          FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents WHERE doc_id < 100)
          GROUP BY 1 HAVING count(*) >= 2 ORDER BY fp""",
      "t26_jaccard_pairs" ->
        s"""WITH sh AS (SELECT doc_id, $shingles AS s FROM documents)
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
            CAST(floor(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / CAST(len(list_distinct(a.s || b.s)) AS DOUBLE) * 1000000.0) AS BIGINT) AS jaccard_ppm
          FROM sh a, sh b WHERE a.doc_id < b.doc_id
          AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / CAST(len(list_distinct(a.s || b.s)) AS DOUBLE) >= 0.8
          ORDER BY a_id, b_id""",
      "t58_jaccard_clusters" ->
        s"""WITH RECURSIVE sh AS (SELECT doc_id, $shingles AS s FROM documents),
          pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
            FROM sh a, sh b WHERE a.doc_id < b.doc_id
            AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                / CAST(len(list_distinct(a.s || b.s)) AS DOUBLE) >= 0.8),
          edges AS (SELECT a_id AS u, b_id AS v FROM pairs
            UNION SELECT b_id AS u, a_id AS v FROM pairs),
          walk(id, reach) AS (
            SELECT u, u FROM (SELECT DISTINCT u FROM edges)
            UNION
            SELECT w.id, e.v FROM walk w JOIN edges e ON w.reach = e.u)
          SELECT id, min(reach) AS rep FROM walk GROUP BY id ORDER BY id""",
      "t59_dedup_survivors" ->
        s"""WITH RECURSIVE sh AS (SELECT doc_id, $shingles AS s FROM documents),
          pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
            FROM sh a, sh b WHERE a.doc_id < b.doc_id
            AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                / CAST(len(list_distinct(a.s || b.s)) AS DOUBLE) >= 0.8),
          edges AS (SELECT a_id AS u, b_id AS v FROM pairs
            UNION SELECT b_id AS u, a_id AS v FROM pairs),
          walk(id, reach) AS (
            SELECT u, u FROM (SELECT DISTINCT u FROM edges)
            UNION
            SELECT w.id, e.v FROM walk w JOIN edges e ON w.reach = e.u),
          losers AS (SELECT id FROM walk GROUP BY id HAVING id <> min(reach))
          SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT id FROM losers)
          ORDER BY doc_id""",
      "t63_decontaminate" ->
        s"""WITH g AS (SELECT doc_id, unnest($grams8) AS gram FROM documents),
          b AS (SELECT doc_id AS bench_id, gram FROM g WHERE doc_id % 50 = 0)
          SELECT g.doc_id, b.bench_id, CAST(count(*) AS BIGINT) AS n_shared_grams
          FROM g JOIN b USING (gram)
          GROUP BY g.doc_id, b.bench_id ORDER BY g.doc_id, b.bench_id""",
      "t82_line_dedup" ->
        s"""WITH d2 AS (SELECT doc_id,
            regexp_replace(text, '((?:\\S+\\s+){7}\\S+)\\s+', '\\1' || chr(10), 'g') AS text
            FROM documents),
          dl AS (SELECT DISTINCT doc_id, unnest(string_split(text, chr(10))) AS line FROM d2),
          freq AS (SELECT md5(line) AS fp FROM dl GROUP BY 1 HAVING count(*) >= 3),
          fl AS (SELECT coalesce(list(fp), []) AS fps FROM freq),
          cleaned AS (SELECT d2.doc_id,
              len(string_split(d2.text, chr(10))) AS n_lines,
              list_filter(string_split(d2.text, chr(10)),
                x -> NOT list_contains(fl.fps, md5(x))) AS kept
            FROM d2, fl)
          SELECT doc_id, CAST(n_lines - len(kept) AS BIGINT) AS n_lines_dropped,
            CAST(length(array_to_string(kept, chr(10))) AS BIGINT) AS clean_len
          FROM cleaned ORDER BY doc_id""",
      // BM25 with the ppm-floor contract: the (k1, b)-derived float
      // constants are interpolated via Double.toString (shortest
      // round-trip), so both engines evaluate the identical doubles;
      // ln-ulp divergence is absorbed by the +0.0001 floor guard
      "t92_bm25_topk" -> (bm25RankCtes(toks) + bm25TopK5),
      // index-roundtrip twin: the persisted-postings path must land on
      // the EXACT t92 result, so it checks against the identical SQL
      "t97_bm25_index_roundtrip" -> (bm25RankCtes(toks) + bm25TopK5),
      // pruned (term-bucketed) index layout must be result-invisible:
      // same oracle as t97
      "t119_bm25_pruned" -> (bm25RankCtes(toks) + bm25TopK5),
      // incremental-index twin: merge(v1 index, delta postings) must
      // land on the from-scratch t92 SQL over the effective post-delta
      // corpus (new docs %5==0 added, revisions %7==0 replaced)
      "t110_bm25_incremental" -> {
        val etext = "CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END"
        val enorm = s"trim(regexp_replace(lower($etext), '\\s+', ' ', 'g'))"
        val etoks = s"string_split($enorm, ' ')"
        bm25RankCtes(etoks) + bm25TopK5
      },
      // BM25-seeded selection: t92's retrieval chain feeds the seed set,
      // then the t86 hashed-NB chain trains on (retrieved = positive)
      // and scores every doc — two ppm contracts composed end to end
      "t93_bm25_seed_select" -> {
        bm25RankCtes(toks) + nbSeedCtes + """
          SELECT b.doc_id, coalesce(n_feats, 0) AS n_feats,
            coalesce(sum_w, 0) + (SELECT p FROM pri) AS score_ppm,
            coalesce(sum_w, 0) + (SELECT p FROM pri) > 0 AS pred
          FROM b LEFT JOIN docw USING (doc_id) ORDER BY doc_id"""
      },
      // retrieve→rerank: the t92 BM25 chain recalls a k=20 shortlist,
      // the t93 weak-label NB chain scores the corpus, and the
      // shortlist reorders by NB score to a final top-5 — same shared
      // CTEs as t93, so a scoring-math fix cannot desync the twins
      "t124_bm25_rerank" -> {
        bm25RankCtes(toks) + nbSeedCtes + """,
          short AS (SELECT query_id, doc_id, score_ppm AS bm25_ppm
            FROM rk WHERE rank <= 20),
          ns AS (SELECT b.doc_id,
              coalesce(sum_w, 0) + (SELECT p FROM pri) AS nb_ppm
            FROM b LEFT JOIN docw USING (doc_id)),
          rr AS (SELECT short.query_id, short.doc_id, short.bm25_ppm,
              ns.nb_ppm AS rerank_ppm,
              CAST(row_number() OVER (PARTITION BY short.query_id
                ORDER BY ns.nb_ppm DESC, short.doc_id) AS BIGINT) AS rank
            FROM short JOIN ns USING (doc_id))
          SELECT query_id, doc_id, bm25_ppm, rerank_ppm, rank
          FROM rr WHERE rank <= 5 ORDER BY query_id, rank"""
      },
      // char-trigram NB langid: seen-bucket weight ln(c+1) (the add-one
      // smoothing base cancels against the unseen term), per-lang base
      // -ln(T+B) applied n_grams times, doc-count prior; argmax with
      // lexicographic tie-break — all ppm-floored integer sums
      "t94_langid_nb" ->
        s"""WITH d AS (SELECT doc_id, lang, $norm AS txt FROM documents),
          g AS (SELECT doc_id, lang,
            unnest(list_transform(range(1, greatest(length(txt) - 1, 1)),
              i -> substring(txt, i, 3))) AS gram FROM d),
          fb AS (SELECT doc_id, lang,
            CAST(('0x' || substring(md5(gram), 1, 12)) AS BIGINT) % 1024 AS bucket FROM g),
          cls AS (SELECT lang, bucket, CAST(count(*) AS BIGINT) AS c FROM fb GROUP BY 1, 2),
          tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS t FROM cls GROUP BY 1),
          w AS (SELECT lang, bucket,
            CAST(floor(ln(CAST(c + 1 AS DOUBLE)) * 1000000.0 + 0.0001) AS BIGINT) AS w_ppm
            FROM cls),
          bs AS (SELECT lang,
            CAST(floor(-ln(CAST(t + 1024 AS DOUBLE)) * 1000000.0 + 0.0001) AS BIGINT) AS base_ppm
            FROM tot),
          pri AS (SELECT lang, CAST(floor(ln(CAST(count(*) AS DOUBLE)
                / CAST((SELECT count(*) FROM d) AS DOUBLE)) * 1000000.0 + 0.0001) AS BIGINT) AS prior_ppm
            FROM d GROUP BY lang),
          db AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS n FROM fb GROUP BY 1, 2),
          ng AS (SELECT doc_id, CAST(greatest(length(txt) - 2, 0) AS BIGINT) AS n_grams FROM d),
          sw AS (SELECT db.doc_id, w.lang, CAST(sum(db.n * w.w_ppm) AS BIGINT) AS sw
            FROM db JOIN w USING (bucket) GROUP BY 1, 2),
          sc AS (SELECT ng.doc_id, bs.lang,
              pri.prior_ppm + ng.n_grams * bs.base_ppm + coalesce(sw.sw, 0) AS score_ppm
            FROM ng CROSS JOIN bs JOIN pri USING (lang)
            LEFT JOIN sw ON sw.doc_id = ng.doc_id AND sw.lang = bs.lang),
          rk AS (SELECT doc_id, lang, score_ppm,
            row_number() OVER (PARTITION BY doc_id ORDER BY score_ppm DESC, lang) AS r FROM sc)
          SELECT d.doc_id, d.lang, rk.lang AS pred_lang, CAST(rk.score_ppm AS BIGINT) AS score_ppm
          FROM d JOIN rk USING (doc_id) WHERE r = 1 ORDER BY doc_id""",
      // shard = first 48 md5 bits mod 8 (the hashBucket convention),
      // in-shard order = (md5 hex, key) — both engines derive the
      // identical layout from the identical digests
      "t91_shard_assign" ->
        s"""WITH h AS (SELECT doc_id,
            substring(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS hx FROM documents),
          s AS (SELECT doc_id, hx,
            CAST(('0x' || hx) AS BIGINT) % 8 AS shard FROM h)
          SELECT doc_id, shard,
            CAST(row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id) - 1 AS BIGINT) AS pos
          FROM s ORDER BY doc_id""",
      // C4 line/page rules; policy phrases generated from
      // TextAnalysis.C4PolicyPhrases so rule edits can never desync
      // the engines. Same synthesized-lines device as t82.
      "t90_c4_filter" -> {
        val policy = graft.llm.TextAnalysis.C4PolicyPhrases
          .map(p => s"contains(lt, '$p')").mkString(" OR ")
        s"""WITH d2 AS (SELECT doc_id,
            (CASE WHEN doc_id % 2 = 0
              THEN regexp_replace(text, '((?:\\S+\\s+){7}\\S+)\\s+', '\\1.' || chr(10), 'g')
              ELSE regexp_replace(text, '((?:\\S+\\s+){2}\\S+)\\s+', '\\1.' || chr(10), 'g') END)
            || (CASE WHEN doc_id % 97 = 0 THEN chr(10) || 'this page contains lorem ipsum text.' ELSE '' END)
            || (CASE WHEN doc_id % 89 = 0 THEN chr(10) || 'javascript is required here really today.' ELSE '' END)
            || (CASE WHEN doc_id % 83 = 0 THEN chr(10) || 'see our privacy policy for details.' ELSE '' END)
            || (CASE WHEN doc_id % 79 = 0 THEN chr(10) || 'config { x } dump.' ELSE '' END) AS text
            FROM documents),
          b AS (SELECT doc_id, text, lower(text) AS lt,
            string_split(text, chr(10)) AS lines FROM d2),
          k AS (SELECT doc_id, lt, len(lines) AS n_lines,
            CAST(length(text) - length(regexp_replace(text, '[.!?]', '', 'g')) AS BIGINT) AS n_sentences,
            list_filter(lines, x -> regexp_matches(trim(x), '[.!?"]$$')
              AND len(string_split_regex(trim(x), '\\s+')) >= 5
              AND NOT contains(lower(x), 'javascript')) AS kept
            FROM b),
          r AS (SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
            CAST(len(kept) AS BIGINT) AS n_lines_kept, n_sentences,
            CASE WHEN contains(lt, 'lorem ipsum') THEN 'lorem_ipsum'
                 WHEN contains(lt, '{') THEN 'curly_brace'
                 WHEN $policy THEN 'policy'
                 WHEN n_sentences < 3 THEN 'too_few_sentences'
                 WHEN len(kept) = 0 THEN 'no_lines'
                 ELSE 'ok' END AS reason,
            CAST(length(coalesce(array_to_string(kept, chr(10)), '')) AS BIGINT) AS clean_len
            FROM k)
          SELECT doc_id, n_lines, n_lines_kept, n_sentences, reason,
            reason = 'ok' AS keep, clean_len
          FROM r ORDER BY doc_id"""
      },
      "t81_index_scrub" ->
        s"""WITH g AS (SELECT doc_id, unnest($grams8) AS gram FROM documents),
          b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
          flagged AS (SELECT g.doc_id FROM g JOIN b USING (gram)
                      GROUP BY g.doc_id HAVING count(*) >= 2)
          SELECT doc_id, n_chars FROM documents
          WHERE doc_id NOT IN (SELECT doc_id FROM flagged)
          ORDER BY doc_id""",
      "t64_incremental_exact" ->
        s"""WITH ci AS (SELECT doc_id AS corpus_id, md5($norm) AS fp FROM documents),
          de AS (SELECT doc_id + 100000 AS delta_id, md5($norm) AS fp
                 FROM documents WHERE doc_id < 100)
          SELECT delta_id, corpus_id FROM de JOIN ci USING (fp)
          ORDER BY delta_id, corpus_id""",
      "t27_embed_near_dup" ->
        s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
          CAST(floor(($cosine) * 1000000.0) AS BIGINT) AS cos_ppm
          FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id AND $cosine >= 0.45
          ORDER BY a_id, b_id""",
      "t28_knn_brute" ->
        s"""SELECT query_id, rank, neighbor_id, cos_ppm FROM (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
            CAST(floor(($cosine) * 1000000.0) AS BIGINT) AS cos_ppm,
            row_number() OVER (PARTITION BY a.vec_id ORDER BY $cosine DESC, b.vec_id) AS rank
            FROM embeddings a, embeddings b
            WHERE a.vec_id < 20 AND a.vec_id <> b.vec_id)
          WHERE rank <= 10 ORDER BY query_id, rank""",
      "t32_text_analyze" ->
        s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
          CAST($nTokens AS BIGINT) AS n_tokens,
          (WITH sc AS (SELECT
            $langScoreCols)
           SELECT CASE
            $langCases
            ELSE 'und' END FROM sc) AS lang_pred,
          md5($norm) AS fp
          FROM documents ORDER BY doc_id""",
      // q61/q62 write+read the same rows, so the oracle is the plain
      // aggregate over the source parquet — value fidelity through the
      // JSON/ORC round-trip is exactly what the hash compare proves
      "q61_json_roundtrip" ->
        """SELECT c_mktsegment, count(*) AS n,
          CAST(sum(CAST(round(c_acctbal * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_bal
          FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""",
      "q62_orc_roundtrip" ->
        """SELECT s_nationkey, count(*) AS n,
          CAST(sum(CAST(round(s_acctbal * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_bal
          FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""",
      // md5-hashUnit twin of Sampling.stratifiedHashSample (q57 idiom)
      "q63_stratified_sample" ->
        """WITH u AS (SELECT *,
            CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) / 281474976710656.0 AS hu
          FROM documents)
          SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
          FROM u WHERE hu < CASE lang WHEN 'en' THEN 0.5 WHEN 'fr' THEN 0.3 WHEN 'de' THEN 0.2 ELSE 0.0 END
          GROUP BY lang ORDER BY lang""",
      "t66_pii_scrub" ->
        s"""WITH d AS (SELECT doc_id, $dirtyText AS dirty FROM documents)
          SELECT doc_id,
            regexp_replace(regexp_replace(regexp_replace(dirty,
              '$emailPat', '[EMAIL]', 'g'), '$ipPat', '[IP]', 'g'), '$numPat', '[NUM]', 'g') AS clean,
            CAST(len(regexp_extract_all(dirty, '$emailPat')) AS BIGINT) AS n_email,
            CAST(len(regexp_extract_all(dirty, '$ipPat')) AS BIGINT) AS n_ip,
            CAST(len(regexp_extract_all(dirty, '$numPat')) AS BIGINT) AS n_num
          FROM d ORDER BY doc_id""",
      "t67_repetition" ->
        s"""SELECT doc_id,
          ${dupFracPpm(2)} AS dup_2gram_ppm,
          ${dupFracPpm(3)} AS dup_3gram_ppm,
          $meanWordLenPpm AS mean_word_len_ppm,
          $punctPerTokenPpm AS punct_per_token_ppm
          FROM documents ORDER BY doc_id""",
      // window prefix-sum twin of Packing.packBlocks (blockTokens = 64)
      "t68_sequence_packing" ->
        s"""WITH tok AS (SELECT doc_id, CAST($nTokens AS BIGINT) AS n_tokens FROM documents),
          o AS (SELECT doc_id, n_tokens,
            CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
          FROM tok)
          SELECT doc_id, n_tokens, start_tok,
            (start_tok // 64) AS start_block,
            ((start_tok + greatest(n_tokens, 1) - 1) // 64) AS end_block,
            (((start_tok + greatest(n_tokens, 1) - 1) // 64) - (start_tok // 64) + 1) AS n_blocks
          FROM o ORDER BY doc_id""",
      // corpus-frequency rarity over the marker-token corpus; the ppm is
      // integer division on both sides — bit-stable with no doubles
      "t69_rare_tokens" ->
        s"""WITH d AS (SELECT doc_id, text || ' uniq' || CAST(doc_id AS VARCHAR) AS text FROM documents),
          p AS (SELECT doc_id, unnest($toks) AS tok FROM d),
          v AS (SELECT tok, count(*) AS c FROM p GROUP BY tok)
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
            CAST(sum(CASE WHEN c <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
            CAST((sum(CASE WHEN c <= 2 THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT) AS rare_frac_ppm
          FROM p JOIN v USING (tok)
          GROUP BY doc_id ORDER BY doc_id""",
      // Gopher rule bundle: same signals as t67's twins, same rule order
      // as TextAnalysis.gopherFilter
      "t70_gopher_filter" ->
        s"""WITH b AS (SELECT doc_id,
            CAST($nTokens AS BIGINT) AS n_tokens,
            $meanWordLenPpm AS mean_word_len_ppm,
            ${dupFracPpm(2)} AS dup_2gram_ppm,
            CAST($stops AS BIGINT) AS n_stopwords
          FROM documents),
          r AS (SELECT *,
            CASE WHEN n_tokens < 25 THEN 'too_short'
                 WHEN n_tokens > 100000 THEN 'too_long'
                 WHEN mean_word_len_ppm < 4300000 THEN 'word_len_low'
                 WHEN mean_word_len_ppm > 4700000 THEN 'word_len_high'
                 WHEN dup_2gram_ppm > 50000 THEN 'repetitive'
                 WHEN n_stopwords < 1 THEN 'no_stopwords'
                 ELSE 'ok' END AS reason
          FROM b)
          SELECT doc_id, n_tokens, mean_word_len_ppm, dup_2gram_ppm, n_stopwords,
            reason, reason = 'ok' AS keep
          FROM r ORDER BY doc_id""",
      "t71_url_stats" ->
        s"""WITH d AS (SELECT doc_id,
            text || ' see https://site' || CAST(doc_id % 7 AS VARCHAR) || '.example.org/p/' || CAST(doc_id AS VARCHAR)
                 || ' and http://ref' || CAST(doc_id % 3 AS VARCHAR) || '.net/x' AS text
          FROM documents),
          h AS (SELECT doc_id, unnest(regexp_extract_all(text, '${TextFunctions.UrlHostPattern}', 1)) AS host FROM d)
          SELECT host, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
            CAST(count(*) AS BIGINT) AS n_hits
          FROM h GROUP BY host ORDER BY host""",
      "t72_semdedup" -> LiteralOracles.t72,
      "t79_semdedup_delta" -> LiteralOracles.t79,
      "t83_knn_pq" -> LiteralOracles.t83,
      "t75_bin_packing" -> LiteralOracles.t75,
      // unigram LM scoring: per-token ppm-floored log2 probs with the
      // shared +1e-4 boundary guard (see TextAnalysis.unigramLogProbPpm:
      // absorbs cross-engine log2 ulp divergence at any vocab/scale),
      // exact integer doc sums, trunc-division average emulated via CASE
      "t84_bigram_logprob" ->
        s"""WITH bt AS (SELECT doc_id, CASE WHEN len($toks) >= 2
              THEN list_transform(range(1, len($toks)), i -> [$toks[i], $toks[i+1]])
              ELSE [] END AS bgs FROM documents),
          bg AS (SELECT doc_id, unnest(bgs) AS b FROM bt),
          pairs AS (SELECT doc_id, b[1] AS w1, b[2] AS w2,
              CAST(count(*) AS BIGINT) AS n FROM bg GROUP BY 1, 2, 3),
          bv AS (SELECT w1, w2, CAST(sum(n) AS BIGINT) AS c12 FROM pairs GROUP BY 1, 2),
          ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bv GROUP BY 1),
          vt AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
                 FROM (SELECT unnest($toks) AS tok FROM documents)),
          sc AS (SELECT p.doc_id, p.n,
              CAST(floor(log2(CAST(bv.c12 + 1 AS DOUBLE)
                / CAST(ctx.c1 + (SELECT v FROM vt) AS DOUBLE)) * 1000000.0 + 0.0001) AS BIGINT) AS lp
            FROM pairs p JOIN bv USING (w1, w2) JOIN ctx USING (w1)),
          d AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
              CAST(sum(n * lp) AS BIGINT) AS sum_lp FROM sc GROUP BY doc_id)
          SELECT doc_id, n_bigrams,
            CASE WHEN sum_lp >= 0 THEN sum_lp // n_bigrams
                 ELSE -((-sum_lp) // n_bigrams) END AS avg_logprob_ppm
          FROM d ORDER BY doc_id""",
      // TF-IDF: same ntn weighting, ppm floor + guard, row_number ties
      // on the binary-collated ASCII term
      "t88_tfidf_terms" ->
        s"""WITH p AS (SELECT doc_id, unnest($toks) AS term FROM documents),
          g AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1, 2),
          dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY 1),
          nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM documents),
          sc AS (SELECT g.doc_id, g.term,
              CAST(floor(g.n * ln(CAST((SELECT n FROM nd) AS DOUBLE) / CAST(dfq.df AS DOUBLE))
                * 1000000.0 + 0.0001) AS BIGINT) AS tfidf_ppm
            FROM g JOIN dfq USING (term)),
          r AS (SELECT doc_id, term, tfidf_ppm,
              CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf_ppm DESC, term) AS BIGINT) AS "rank"
            FROM sc)
          SELECT doc_id, term, tfidf_ppm, "rank" FROM r WHERE "rank" <= 3
          ORDER BY doc_id, tfidf_ppm DESC, term""",
      // keep-best survivors: t59's recursive-CTE clusters + per-cluster
      // argmax on (n_chars, -id) instead of min id
      "t89_survivors_keep_best" ->
        s"""WITH RECURSIVE sh AS (SELECT doc_id, $shingles AS s FROM documents),
          pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
            FROM sh a, sh b WHERE a.doc_id < b.doc_id
            AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                / CAST(len(list_distinct(a.s || b.s)) AS DOUBLE) >= 0.8),
          edges AS (SELECT a_id AS u, b_id AS v FROM pairs
            UNION SELECT b_id AS u, a_id AS v FROM pairs),
          walk(id, reach) AS (
            SELECT u, u FROM (SELECT DISTINCT u FROM edges)
            UNION
            SELECT w.id, e.v FROM walk w JOIN edges e ON w.reach = e.u),
          comp AS (SELECT id, min(reach) AS rep FROM walk GROUP BY id),
          m AS (SELECT c.id, c.rep, d.n_chars FROM comp c JOIN documents d ON d.doc_id = c.id),
          losers AS (SELECT id FROM (SELECT id, row_number() OVER (
              PARTITION BY rep ORDER BY n_chars DESC, id) AS rn FROM m) WHERE rn > 1)
          SELECT doc_id, n_chars FROM documents
          WHERE doc_id NOT IN (SELECT id FROM losers) ORDER BY doc_id""",
      // DSIR: same md5 feature-hash buckets, add-one-smoothed ln-ratio
      // ppm-floored per bucket (shared +1e-4 guard), exact integer doc
      // sums, md5-derived Gumbel keys — Dsir.select re-derived whole
      "t85_dsir_sample" ->
        s"""WITH b AS (SELECT doc_id, lang, $toks AS tk FROM documents),
          f AS (SELECT doc_id, lang,
            unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS feat FROM b),
          fb AS (SELECT doc_id, lang,
            CAST(('0x' || substring(md5(feat), 1, 12)) AS BIGINT) % 4096 AS bucket FROM f),
          dk AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS n FROM fb GROUP BY 1, 2),
          raw AS (SELECT bucket, CAST(sum(n) AS BIGINT) AS c FROM dk GROUP BY 1),
          tgt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c FROM fb WHERE lang = 'en' GROUP BY 1),
          nr AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM raw),
          ntg AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n FROM tgt),
          w AS (SELECT raw.bucket,
            CAST(floor((ln(CAST(coalesce(tgt.c, 0) + 1 AS DOUBLE) / CAST((SELECT n FROM ntg) + 4096 AS DOUBLE))
                      - ln(CAST(raw.c + 1 AS DOUBLE) / CAST((SELECT n FROM nr) + 4096 AS DOUBLE)))
                * 1000000.0 + 0.0001) AS BIGINT) AS w_ppm
            FROM raw LEFT JOIN tgt USING (bucket)),
          docw AS (SELECT dk.doc_id, CAST(sum(dk.n) AS BIGINT) AS n_feats,
              CAST(sum(dk.n * w.w_ppm) AS BIGINT) AS logw_ppm
            FROM dk JOIN w USING (bucket) GROUP BY dk.doc_id)
          SELECT doc_id, n_feats, logw_ppm,
            logw_ppm + CAST(floor(-ln(-ln((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) + 0.5)
              / 281474976710656.0)) * 1000000.0 + 0.0001) AS BIGINT) AS key_ppm
          FROM docw ORDER BY key_ppm DESC, doc_id LIMIT 20""",
      // hashed-NB classifier: identical count/smooth/floor derivation;
      // score = exact integer sum + prior, no division anywhere
      "t86_quality_classifier" ->
        s"""WITH b0 AS (SELECT doc_id, $toks AS tk FROM documents),
          b AS (SELECT doc_id,
            len(list_filter(tk, x -> x = 'spark')) > len(list_filter(tk, x -> x = 'hash')) AS y,
            tk FROM b0),
          f AS (SELECT doc_id, y, unnest(tk) AS feat FROM b),
          fb AS (SELECT doc_id, y,
            CAST(('0x' || substring(md5(feat), 1, 12)) AS BIGINT) % 256 AS bucket FROM f),
          dk AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS n FROM fb GROUP BY 1, 2),
          cls AS (SELECT bucket,
              CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS cp,
              CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS cn FROM fb GROUP BY 1),
          tot AS (SELECT CAST(sum(cp) AS BIGINT) AS np, CAST(sum(cn) AS BIGINT) AS nn FROM cls),
          pri AS (SELECT CAST(floor(ln(CAST((SELECT count(*) FROM b WHERE y) AS DOUBLE)
                / CAST((SELECT count(*) FROM b WHERE NOT y) AS DOUBLE)) * 1000000.0 + 0.0001) AS BIGINT) AS p),
          w AS (SELECT bucket,
            CAST(floor((ln(CAST(cp + 1 AS DOUBLE) / CAST((SELECT np FROM tot) + 256 AS DOUBLE))
                      - ln(CAST(cn + 1 AS DOUBLE) / CAST((SELECT nn FROM tot) + 256 AS DOUBLE)))
                * 1000000.0 + 0.0001) AS BIGINT) AS w_ppm
            FROM cls),
          docw AS (SELECT dk.doc_id, CAST(sum(dk.n) AS BIGINT) AS n_feats,
              CAST(sum(dk.n * w.w_ppm) AS BIGINT) AS sum_w
            FROM dk JOIN w USING (bucket) GROUP BY 1)
          SELECT b.doc_id, coalesce(n_feats, 0) AS n_feats,
            coalesce(sum_w, 0) + (SELECT p FROM pri) AS score_ppm,
            coalesce(sum_w, 0) + (SELECT p FROM pri) > 0 AS pred
          FROM b LEFT JOIN docw USING (doc_id) ORDER BY doc_id""",
      // dup spans: same rolling 8-token md5 windows, distinct-doc census,
      // gaps-and-islands merged coverage — all exact integers
      "t87_dup_spans" ->
        s"""WITH b AS (SELECT doc_id, $toks AS tk FROM documents),
          w AS (SELECT doc_id,
            unnest(range(0, greatest(len(tk) - 8 + 1, 0))) AS pos,
            unnest(list_transform(range(0, greatest(len(tk) - 8 + 1, 0)),
              i -> md5(array_to_string(tk[i+1:i+8], ' ')))) AS fp
          FROM b),
          freq AS (SELECT fp FROM w GROUP BY fp HAVING count(DISTINCT doc_id) >= 2),
          d AS (SELECT w.doc_id, w.pos FROM w JOIN freq USING (fp)),
          isl AS (SELECT doc_id, pos, greatest(0, pos + 8 - greatest(coalesce(max(pos + 8) OVER (
              PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0), pos)) AS cov
            FROM d),
          agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup, CAST(sum(cov) AS BIGINT) AS dup_tokens
            FROM isl GROUP BY doc_id)
          SELECT b.doc_id, CAST(greatest(len(tk) - 8 + 1, 0) AS BIGINT) AS n_windows,
            coalesce(agg.n_dup, 0) AS n_dup_windows,
            coalesce(agg.dup_tokens, 0) AS dup_cov_tokens,
            coalesce(agg.dup_tokens, 0) * 1000000 // len(tk) AS dup_cov_ppm
          FROM b LEFT JOIN agg USING (doc_id) ORDER BY doc_id""",
      // span removal: same windows/census as t87 plus min-id canonical;
      // kept tokens rebuilt by 0-based index filter (DuckDB's list
      // lambda index is 1-based, hence i - 1)
      "t95_scrub_dup_spans" ->
        s"""WITH b AS (SELECT doc_id, $toks AS tk FROM documents),
          w AS (SELECT doc_id,
            unnest(range(0, greatest(len(tk) - 8 + 1, 0))) AS pos,
            unnest(list_transform(range(0, greatest(len(tk) - 8 + 1, 0)),
              i -> md5(array_to_string(tk[i+1:i+8], ' ')))) AS fp
          FROM b),
          freq AS (SELECT fp, min(doc_id) AS canon FROM w
            GROUP BY fp HAVING count(DISTINCT doc_id) >= 2),
          rem AS (SELECT w.doc_id, w.pos FROM w JOIN freq USING (fp)
            WHERE w.doc_id <> freq.canon),
          covp AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + 8)) AS p FROM rem),
          cov AS (SELECT doc_id, list_sort(list(p)) AS cv FROM covp GROUP BY doc_id),
          o AS (SELECT b.doc_id, len(tk) AS nt,
            CASE WHEN cv IS NULL THEN tk
                 ELSE list_filter(tk, (x, i) -> NOT list_contains(cv, i - 1)) END AS kept
            FROM b LEFT JOIN cov USING (doc_id))
          SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
            CAST(nt - len(kept) AS BIGINT) AS n_removed,
            coalesce(array_to_string(kept, ' '), '') AS clean_text
          FROM o ORDER BY doc_id""",
      // variant twin: DuckDB builds the SAME json (key order irrelevant
      // — both engines extract by path) and walks the same paths
      "t117_variant_extract" ->
        s"""WITH j AS (SELECT doc_id, to_json(struct_pack(
            source := source, lang := lang,
            n_chars := CAST(n_chars AS BIGINT),
            meta := struct_pack(id := doc_id, bucket := doc_id % 7),
            arr := [CAST(n_chars AS BIGINT), CAST(n_chars * 2 AS BIGINT)])) AS js
          FROM documents)
          SELECT doc_id,
            json_extract_string(js, '$$.source') AS source,
            CAST(json_extract(js, '$$.n_chars') AS BIGINT) AS n_chars,
            CAST(json_extract(js, '$$.meta.bucket') AS BIGINT) AS bucket,
            CAST(json_extract(js, '$$.arr[1]') AS BIGINT) AS arr1,
            json_extract_string(js, '$$.missing') AS missing
          FROM j ORDER BY doc_id""",
      // heterogeneous-variant twin: DuckDB rebuilds the SAME per-shape
      // json and re-walks it (json_transform unnest for the tag rows);
      // the schema_of_variant_agg strings are pinned literals —
      // identical shapes merge to themselves, so the agg is a
      // deterministic function of the shape class
      "t118_variant_shred" ->
        s"""WITH j AS (SELECT doc_id,
            CASE WHEN doc_id % 3 = 0 THEN to_json(struct_pack(
                   kind := 'web',
                   http := struct_pack(
                     status := CAST(200 + doc_id % 5 AS BIGINT),
                     url_len := CAST(n_chars % 50 AS BIGINT)),
                   tags := ['s:' || source, 'l:' || lang, 's:' || source]))
                 WHEN doc_id % 3 = 1 THEN to_json(struct_pack(
                   kind := 'pdf',
                   pages := CAST(n_chars % 20 AS BIGINT),
                   tags := ['s:' || source]))
                 ELSE to_json(struct_pack(
                   kind := 'img',
                   image := struct_pack(
                     w := CAST(n_chars % 640 AS BIGINT),
                     h := CAST(n_chars % 480 AS BIGINT))))
            END AS js FROM documents),
          t AS (SELECT doc_id, json_extract_string(js, '$$.kind') AS kind,
                  unnest(json_transform(json_extract(js, '$$.tags'),
                    '["VARCHAR"]')) AS tag
                FROM j)
          SELECT kind, tag,
            CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
            CAST(count(*) AS BIGINT) AS n_occ
          FROM t GROUP BY kind, tag
          UNION ALL
          SELECT json_extract_string(js, '$$.kind') AS kind,
            'schema:' || CASE json_extract_string(js, '$$.kind')
              WHEN 'web' THEN 'OBJECT<http: OBJECT<status: BIGINT, url_len: BIGINT>, kind: STRING, tags: ARRAY<STRING>>'
              WHEN 'pdf' THEN 'OBJECT<kind: STRING, pages: BIGINT, tags: ARRAY<STRING>>'
              ELSE 'OBJECT<image: OBJECT<h: BIGINT, w: BIGINT>, kind: STRING>'
            END AS tag,
            CAST(count(*) AS BIGINT) AS n_docs,
            CAST(count(*) AS BIGINT) AS n_occ
          FROM j GROUP BY 1, 2
          ORDER BY kind, tag""",
      // t95's window/rebuild idiom pointed at the t81 bench gram set:
      // matched windows' covered positions drop, short docs contribute
      // their whole-text shingle (shingleSet parity on both sides)
      "t116_decontaminate_spans" ->
        s"""WITH b AS (SELECT doc_id, $toks AS tk FROM documents),
          bg AS (SELECT DISTINCT unnest($grams8) AS gram FROM documents
            WHERE doc_id % 50 = 0),
          w AS (SELECT doc_id, len(tk) AS nt,
            unnest(CASE WHEN len(tk) >= 8 THEN range(0, len(tk) - 7)
                        WHEN len(tk) > 0 THEN [0] ELSE [] END) AS pos,
            unnest(CASE WHEN len(tk) >= 8 THEN list_transform(range(0, len(tk) - 7),
                  i -> array_to_string(tk[i+1:i+8], ' '))
                WHEN len(tk) > 0 THEN [array_to_string(tk, ' ')] ELSE [] END) AS gram
          FROM b),
          rem AS (SELECT w.doc_id, w.pos, w.nt FROM w JOIN bg USING (gram)),
          covp AS (SELECT DISTINCT doc_id, unnest(range(pos, least(pos + 8, nt))) AS p FROM rem),
          cov AS (SELECT doc_id, list_sort(list(p)) AS cv FROM covp GROUP BY doc_id),
          o AS (SELECT b.doc_id, len(tk) AS nt,
            CASE WHEN cv IS NULL THEN tk
                 ELSE list_filter(tk, (x, i) -> NOT list_contains(cv, i - 1)) END AS kept
            FROM b LEFT JOIN cov USING (doc_id))
          SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
            CAST(nt - len(kept) AS BIGINT) AS n_removed,
            coalesce(array_to_string(kept, ' '), '') AS clean_text
          FROM o ORDER BY doc_id""",
      // staged pipeline: each stage's census runs over the PREVIOUS
      // stage's survivors, mirroring the Spark staging exactly
      // end-to-end curation ledger: t89's recursive-CTE survivors +
      // t81's gram flags (minShared=2) + t78's score chain w/ floor +
      // t77's quota math computed over the stage-3 keep set (single
      // waterfill round — no saturation, pinned in CurationSpec); all
      // sampled docs label 'packed' (BFD conservation — a lost/dup doc
      // would surface as Spark-side 'pack_lost' and hash-mismatch)
      "t128_curation_e2e" ->
        s"""WITH RECURSIVE sh AS (SELECT doc_id, $shingles AS s FROM documents),
          pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
            FROM sh a, sh b WHERE a.doc_id < b.doc_id
            AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                / CAST(len(list_distinct(a.s || b.s)) AS DOUBLE) >= 0.8),
          edges AS (SELECT a_id AS u, b_id AS v FROM pairs
            UNION SELECT b_id AS u, a_id AS v FROM pairs),
          walk(id, reach) AS (
            SELECT u, u FROM (SELECT DISTINCT u FROM edges)
            UNION
            SELECT w.id, e.v FROM walk w JOIN edges e ON w.reach = e.u),
          comp AS (SELECT id, min(reach) AS rep FROM walk GROUP BY id),
          m AS (SELECT c.id, c.rep, d.n_chars FROM comp c JOIN documents d ON d.doc_id = c.id),
          losers AS (SELECT id FROM (SELECT id, row_number() OVER (
              PARTITION BY rep ORDER BY n_chars DESC, id) AS rn FROM m) WHERE rn > 1),
          g AS (SELECT doc_id, unnest($grams8) AS gram FROM documents),
          bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
          flagged AS (SELECT g.doc_id FROM g JOIN bg USING (gram)
                      GROUP BY g.doc_id HAVING count(*) >= 2),
          p AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
          gt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY doc_id, tok),
          v AS (SELECT tok, CAST(sum(n) AS BIGINT) AS c FROM gt GROUP BY tok),
          tot AS (SELECT CAST(sum(c) AS BIGINT) AS N FROM v),
          sc AS (SELECT tok,
              CAST(floor(log2(CAST(c AS DOUBLE) / CAST((SELECT N FROM tot) AS DOUBLE)) * 1000000.0 + 0.0001) AS BIGINT) AS lp
            FROM v),
          dsc AS (SELECT doc_id, CAST(sum(gt.n) AS BIGINT) AS n_toks,
              CAST(sum(gt.n * sc.lp) AS BIGINT) AS sum_lp
            FROM gt JOIN sc USING (tok) GROUP BY doc_id),
          qual AS (SELECT doc_id FROM dsc
            WHERE (CASE WHEN sum_lp >= 0 THEN sum_lp // n_toks
                        ELSE -((-sum_lp) // n_toks) END) >= -4930000),
          s3 AS (SELECT doc_id FROM documents
                 WHERE doc_id NOT IN (SELECT id FROM losers)
                   AND doc_id NOT IN (SELECT doc_id FROM flagged)
                   AND doc_id IN (SELECT doc_id FROM qual)),
          c4 AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n
                 FROM documents d JOIN s3 USING (doc_id) GROUP BY d.source),
          t4 AS (SELECT CAST(sum(n) AS HUGEINT) * 300000 // 1000000 AS T,
                   CAST(sum(CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT)) AS HUGEINT) AS sumW
                 FROM c4),
          q4 AS (SELECT source, n,
                   least(CAST((SELECT T FROM t4) * CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT)
                     // (SELECT sumW FROM t4) AS BIGINT), n) AS quota
                 FROM c4),
          sampled AS (SELECT d.doc_id
            FROM documents d JOIN s3 USING (doc_id) JOIN q4 ON q4.source = d.source
            WHERE CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 12)) AS BIGINT) / 281474976710656.0
                  < CAST(q4.quota AS DOUBLE) / CAST(q4.n AS DOUBLE))
          SELECT d.doc_id, CAST($nTokens AS BIGINT) AS n_tokens,
            CASE WHEN d.doc_id IN (SELECT id FROM losers) THEN 'near_dup'
                 WHEN d.doc_id IN (SELECT doc_id FROM flagged) THEN 'contaminated'
                 WHEN d.doc_id NOT IN (SELECT doc_id FROM qual) THEN 'low_quality'
                 WHEN d.doc_id NOT IN (SELECT doc_id FROM sampled) THEN 'not_sampled'
                 ELSE 'packed' END AS verdict
          FROM documents d ORDER BY doc_id""",
      "t96_curation_pipeline" ->
        s"""WITH st AS (SELECT doc_id, CAST($nTokens AS BIGINT) AS n_tokens,
            ${dupFracPpm(3)} AS rep_ppm, md5($norm) AS fp FROM documents),
          p2 AS (SELECT * FROM st WHERE n_tokens >= 20 AND rep_ppm = 0),
          canon AS (SELECT fp, min(doc_id) AS canon_id FROM p2 GROUP BY fp),
          p3 AS (SELECT p2.doc_id FROM p2 JOIN canon USING (fp)
            WHERE p2.doc_id = canon.canon_id),
          bg AS (SELECT DISTINCT unnest($grams8) AS gram FROM documents
            WHERE doc_id % 50 = 0),
          dg AS (SELECT doc_id, unnest($grams8) AS gram FROM documents
            WHERE doc_id IN (SELECT doc_id FROM p3)),
          ct AS (SELECT DISTINCT doc_id FROM dg
            WHERE gram IN (SELECT gram FROM bg))
          SELECT st.doc_id, st.n_tokens,
            CASE WHEN st.n_tokens < 20 THEN 'too_short'
                 WHEN st.rep_ppm > 0 THEN 'repetitive'
                 WHEN st.doc_id NOT IN (SELECT canon_id FROM canon) THEN 'exact_dup'
                 WHEN st.doc_id IN (SELECT doc_id FROM ct) THEN 'contaminated'
                 ELSE 'kept' END AS verdict
          FROM st ORDER BY doc_id""",
      "t78_unigram_logprob" ->
        s"""WITH p AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
          g AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY doc_id, tok),
          v AS (SELECT tok, CAST(sum(n) AS BIGINT) AS c FROM g GROUP BY tok),
          tot AS (SELECT CAST(sum(c) AS BIGINT) AS N FROM v),
          sc AS (SELECT tok, c,
              CAST(floor(log2(CAST(c AS DOUBLE) / CAST((SELECT N FROM tot) AS DOUBLE)) * 1000000.0 + 0.0001) AS BIGINT) AS lp
            FROM v),
          d AS (SELECT doc_id, CAST(sum(g.n) AS BIGINT) AS n_tokens,
              CAST(sum(g.n * sc.lp) AS BIGINT) AS sum_lp
            FROM g JOIN sc USING (tok) GROUP BY doc_id)
          SELECT doc_id, n_tokens,
            CASE WHEN sum_lp >= 0 THEN sum_lp // n_tokens
                 ELSE -((-sum_lp) // n_tokens) END AS avg_logprob_ppm
          FROM d ORDER BY doc_id""",
      // curriculum bins: t78's score chain + exact CDF binning over the
      // bounded score histogram — bin = (10*cum + tot - 1) // tot, all
      // positive integers so // is the same floor both engines
      // t78 chain + threshold sweep: count/sum FILTER per candidate
      // cutoff over the cross-joined threshold list; integer // ppm
      "t113_threshold_sweep" ->
        s"""WITH p AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
          g AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY doc_id, tok),
          v AS (SELECT tok, CAST(sum(n) AS BIGINT) AS c FROM g GROUP BY tok),
          tot0 AS (SELECT CAST(sum(c) AS BIGINT) AS N FROM v),
          sc AS (SELECT tok, c,
              CAST(floor(log2(CAST(c AS DOUBLE) / CAST((SELECT N FROM tot0) AS DOUBLE)) * 1000000.0 + 0.0001) AS BIGINT) AS lp
            FROM v),
          d AS (SELECT doc_id, CAST(sum(g.n) AS BIGINT) AS n_tokens,
              CAST(sum(g.n * sc.lp) AS BIGINT) AS sum_lp
            FROM g JOIN sc USING (tok) GROUP BY doc_id),
          s2 AS (SELECT n_tokens,
              CASE WHEN sum_lp >= 0 THEN sum_lp // n_tokens
                   ELSE -((-sum_lp) // n_tokens) END AS score FROM d),
          thr AS (SELECT unnest([-5000000, -4930000, -4920000, -4910000,
              -4905000, -4900000, -4890000]) AS threshold),
          sw AS (SELECT thr.threshold,
              CAST(count(*) FILTER (s2.score >= thr.threshold) AS BIGINT) AS n_kept,
              CAST(count(*) AS BIGINT) AS n_total,
              CAST(coalesce(sum(s2.n_tokens) FILTER (s2.score >= thr.threshold), 0) AS BIGINT) AS w_kept,
              CAST(sum(s2.n_tokens) AS BIGINT) AS w_total
            FROM s2 CROSS JOIN thr GROUP BY thr.threshold)
          SELECT CAST(threshold AS BIGINT) AS threshold, n_kept, n_total,
            (n_kept * 1000000 // n_total) AS kept_ppm, w_kept, w_total
          FROM sw ORDER BY threshold""",
      // exact-dup cliques = fingerprint groups, so keep-best reduces to
      // a per-fp window: winner by (priority DESC, doc_id); NULL-text
      // docs have NULL fps and survive untouched (no self-grouping)
      "t114_source_pref_survivors" ->
        s"""WITH d AS (SELECT doc_id, source, md5($norm) AS fp,
              -CAST(substring(source, 4) AS INT) AS prio FROM documents),
          w AS (SELECT doc_id, source, fp,
              row_number() OVER (PARTITION BY fp ORDER BY prio DESC, doc_id) AS rn
            FROM d WHERE fp IS NOT NULL)
          SELECT doc_id, source FROM w WHERE rn = 1
          UNION ALL
          SELECT doc_id, source FROM d WHERE fp IS NULL
          ORDER BY doc_id""",
      "t98_curriculum_bins" ->
        s"""WITH p AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
          g AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY doc_id, tok),
          v AS (SELECT tok, CAST(sum(n) AS BIGINT) AS c FROM g GROUP BY tok),
          tot0 AS (SELECT CAST(sum(c) AS BIGINT) AS N FROM v),
          sc AS (SELECT tok, c,
              CAST(floor(log2(CAST(c AS DOUBLE) / CAST((SELECT N FROM tot0) AS DOUBLE)) * 1000000.0 + 0.0001) AS BIGINT) AS lp
            FROM v),
          d AS (SELECT doc_id, CAST(sum(g.n) AS BIGINT) AS n_tokens,
              CAST(sum(g.n * sc.lp) AS BIGINT) AS sum_lp
            FROM g JOIN sc USING (tok) GROUP BY doc_id),
          a AS (SELECT doc_id,
            CASE WHEN sum_lp >= 0 THEN sum_lp // n_tokens
                 ELSE -((-sum_lp) // n_tokens) END AS avg_logprob_ppm FROM d),
          h AS (SELECT avg_logprob_ppm AS s, CAST(count(*) AS BIGINT) AS cnt FROM a GROUP BY 1),
          hh AS (SELECT s,
              sum(cnt) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
              sum(cnt) OVER () AS tot FROM h)
          SELECT a.doc_id, a.avg_logprob_ppm,
            CAST((10 * hh.cum + hh.tot - 1) // hh.tot AS BIGINT) AS bin
          FROM a JOIN hh ON a.avg_logprob_ppm = hh.s ORDER BY a.doc_id""",
      // token-window chunking: same chunk-count formula (1 for n<=C,
      // else ceil((n-C)/S)+1 via positive int arithmetic), slice is
      // end-truncating in both engines
      "t99_chunk_windows" ->
        s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents WHERE length($norm) > 0),
          s AS (SELECT doc_id, tk, len(tk) AS n FROM t),
          c AS (SELECT doc_id, tk, n,
            unnest(range(0, (CASE WHEN n <= 32 THEN 0
              ELSE CAST(floor((n - 32 + 23.0) / 24.0) AS BIGINT) END) + 1)) AS chunk_id FROM s)
          SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
            CAST(least(32, n - chunk_id * 24) AS BIGINT) AS n_chunk_tokens,
            array_to_string(tk[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ') AS chunk_text
          FROM c ORDER BY doc_id, chunk_id""",
      // pigeonhole segment filter (Pass-Join fixed-length case): 4
      // segments of 16 over the '#'-padded 64-char normalized head key;
      // hamming <= 3 forces >= 1 exactly-equal segment, so the candidate
      // equi-join is COMPLETE; verify with exact hamming
      "t100_fuzzy_key_pairs" ->
        s"""WITH k AS (SELECT doc_id, rpad(substring($norm, 1, 64), 64, '#') AS key FROM documents),
          seg AS (SELECT doc_id, key, i, substring(key, CAST(i * 16 + 1 AS INT), 16) AS s
                  FROM k, generate_series(0, 3) g(i)),
          cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.key AS ak, b.key AS bk
                   FROM seg a JOIN seg b ON a.i = b.i AND a.s = b.s AND a.doc_id < b.doc_id)
          SELECT a_id, b_id, CAST(hamming(ak, bk) AS BIGINT) AS dist
          FROM cand WHERE hamming(ak, bk) <= 3 ORDER BY a_id, b_id""",
      // intra-doc line dedup: 3-token lineification, every 5th doc gets
      // its first line re-appended, then keep-first-occurrence per doc
      "t101_intradoc_line_dedup" ->
        s"""WITH l0 AS (SELECT doc_id,
            regexp_replace($norm, '((?:\\S+ ){2}\\S+) ', '\\1' || chr(10), 'g') AS t0 FROM documents),
          d2 AS (SELECT doc_id, t0 || (CASE WHEN doc_id % 5 = 0
            THEN chr(10) || string_split(t0, chr(10))[1] ELSE '' END) AS text FROM l0),
          l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line,
            generate_subscripts(string_split(text, chr(10)), 1) AS i FROM d2),
          m AS (SELECT doc_id, line, i, min(i) OVER (PARTITION BY doc_id, line) AS fi FROM l),
          k AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
            CAST(count(*) FILTER (i > fi) AS BIGINT) AS n_dropped,
            coalesce(string_agg(line, chr(10) ORDER BY i) FILTER (i = fi), '') AS clean_text
            FROM m GROUP BY doc_id)
          SELECT doc_id, n_lines, n_dropped, clean_text FROM k ORDER BY doc_id""",
      // t100's pigeonhole candidate filter + the t58 recursive-CTE
      // connected components + min-id survivor selection
      // corpus snapshot diff: md5-fingerprint full-outer join of the two
      // simulated versions, churn rows only
      "t106_corpus_diff" ->
        s"""WITH o AS (SELECT doc_id, md5($norm) AS fp FROM documents WHERE doc_id % 7 <> 0),
          nn AS (SELECT doc_id,
              md5(trim(regexp_replace(lower(text || CASE WHEN doc_id % 11 = 0 THEN ' rev2' ELSE '' END), '\\s+', ' ', 'g'))) AS fp
            FROM documents WHERE doc_id % 5 <> 0),
          d AS (SELECT coalesce(o.doc_id, nn.doc_id) AS doc_id,
              CASE WHEN o.doc_id IS NULL THEN 'added'
                   WHEN nn.doc_id IS NULL THEN 'removed'
                   WHEN o.fp <> nn.fp THEN 'changed'
                   ELSE 'unchanged' END AS status
            FROM o FULL OUTER JOIN nn ON o.doc_id = nn.doc_id)
          SELECT doc_id, status FROM d WHERE status <> 'unchanged'
          ORDER BY doc_id""",
      // consecutive-doc 3-gram set F1 per source: lead window + distinct
      // shingle intersection; all-ppm integer arithmetic (// = Spark div
      // on the non-negative operands here)
      "t107_overlap_f1" ->
        s"""WITH s AS (SELECT source, doc_id, $shingles AS sa FROM documents),
          w AS (SELECT source, doc_id AS a_id,
              lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS b_id,
              sa, lead(sa) OVER (PARTITION BY source ORDER BY doc_id) AS sb
            FROM s),
          m AS (SELECT source, a_id, b_id,
              CAST(len(list_filter(sa, g -> list_contains(sb, g))) AS BIGINT) AS n_shared,
              CAST(len(sa) AS BIGINT) AS na, CAST(len(sb) AS BIGINT) AS nb
            FROM w WHERE b_id IS NOT NULL),
          p AS (SELECT source, a_id, b_id, n_shared,
              n_shared * 1000000 // na AS p_ppm,
              n_shared * 1000000 // nb AS r_ppm FROM m)
          SELECT source, a_id, b_id, n_shared, p_ppm, r_ppm,
            CASE WHEN p_ppm + r_ppm = 0 THEN CAST(0 AS BIGINT)
                 ELSE (2 * p_ppm * r_ppm) // (p_ppm + r_ppm) END AS f1_ppm
          FROM p ORDER BY source, a_id""",
      // soft dedup: keep iff md5_bucket('dw:'||id, 1e6) * |group| < 1e6
      "t108_dedup_downsample" ->
        s"""WITH fp AS (SELECT doc_id, md5($norm) AS fp FROM documents),
          g AS (SELECT fp, CAST(count(*) AS BIGINT) AS group_n FROM fp GROUP BY fp)
          SELECT doc_id, group_n FROM fp JOIN g USING (fp)
          WHERE (CAST(('0x' || substring(md5('dw:' || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) % 1000000) * group_n < 1000000
          ORDER BY doc_id""",
      // label-centroid cosines: ppm-floored components, exact integer
      // sums and trunc-mean, IEEE sqrt/div only at the very end
      "t109_label_centroids" ->
        """WITH c0 AS (SELECT label, unnest(generate_series(1, len(embedding))) AS pos,
              unnest(embedding) AS v FROM embeddings),
          cp AS (SELECT label, pos,
              CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.0001) AS BIGINT) AS v_ppm FROM c0),
          ag AS (SELECT label, pos, CAST(sum(v_ppm) AS BIGINT) AS s,
              CAST(count(*) AS BIGINT) AS n FROM cp GROUP BY 1, 2),
          ce AS (SELECT label, pos,
              CASE WHEN s >= 0 THEN s // n ELSE -((-s) // n) END AS c FROM ag),
          pr AS (SELECT a.label AS label_a, b.label AS label_b,
              CAST(sum(a.c * b.c) AS BIGINT) AS dot,
              CAST(sum(a.c * a.c) AS BIGINT) AS na,
              CAST(sum(b.c * b.c) AS BIGINT) AS nb
            FROM ce a JOIN ce b ON a.pos = b.pos AND a.label < b.label
            GROUP BY 1, 2)
          SELECT CAST(label_a AS BIGINT) AS label_a, CAST(label_b AS BIGINT) AS label_b,
            CASE WHEN na = 0 OR nb = 0 THEN CAST(0 AS BIGINT)
                 ELSE CAST(floor(CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)) * 1000000.0 + 0.0001) AS BIGINT) END AS cos_ppm
          FROM pr ORDER BY label_a, label_b""",
      "t105_fuzzy_survivors" ->
        s"""WITH RECURSIVE k AS (SELECT doc_id, rpad(substring($norm, 1, 64), 64, '#') AS key FROM documents),
          seg AS (SELECT doc_id, key, i, substring(key, CAST(i * 16 + 1 AS INT), 16) AS s
                  FROM k, generate_series(0, 3) g(i)),
          cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.key AS ak, b.key AS bk
                   FROM seg a JOIN seg b ON a.i = b.i AND a.s = b.s AND a.doc_id < b.doc_id),
          pairs AS (SELECT a_id, b_id FROM cand WHERE hamming(ak, bk) <= 3),
          edges AS (SELECT a_id AS u, b_id AS v FROM pairs
            UNION SELECT b_id AS u, a_id AS v FROM pairs),
          walk(id, reach) AS (
            SELECT u, u FROM (SELECT DISTINCT u FROM edges)
            UNION
            SELECT w.id, e.v FROM walk w JOIN edges e ON w.reach = e.u),
          losers AS (SELECT id FROM walk GROUP BY id HAVING id <> min(reach))
          SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT id FROM losers)
          ORDER BY doc_id""",
      // chunking CTE (t99) + the t68 prefix-sum packing over the
      // (doc_id, chunk_id)-ordered chunk stream, blockTokens = 64
      "t103_chunk_pack" ->
        s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents WHERE length($norm) > 0),
          s AS (SELECT doc_id, tk, len(tk) AS n FROM t),
          c AS (SELECT doc_id, n,
            unnest(range(0, (CASE WHEN n <= 32 THEN 0
              ELSE CAST(floor((n - 32 + 23.0) / 24.0) AS BIGINT) END) + 1)) AS chunk_id FROM s),
          ch AS (SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
            CAST(least(32, n - chunk_id * 24) AS BIGINT) AS n_tokens FROM c),
          o AS (SELECT doc_id, chunk_id, n_tokens,
            CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id, chunk_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
          FROM ch)
          SELECT doc_id, chunk_id, n_tokens, start_tok,
            (start_tok // 64) AS start_block,
            ((start_tok + greatest(n_tokens, 1) - 1) // 64) AS end_block
          FROM o ORDER BY doc_id, chunk_id""",
      // per-source data card: exact integer ppm via // (both engines
      // floor on positives)
      "t104_corpus_report" ->
        s"""WITH d AS (SELECT source, md5($norm) AS fp, CAST($nTokens AS BIGINT) AS nt FROM documents),
          g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(nt) AS BIGINT) AS n_tokens,
            CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct,
            CAST(max(nt) AS BIGINT) AS max_tokens FROM d GROUP BY source)
          SELECT source, n_docs, n_tokens,
            (n_docs - n_distinct) AS n_dup_docs,
            ((n_docs - n_distinct) * 1000000 // n_docs) AS dup_ppm,
            (n_tokens * 1000000 // n_docs) AS mean_tokens_ppm,
            max_tokens
          FROM g ORDER BY source""",
      // data-card quantiles: nearest-rank min{v : cum >= ceil(q*n)}
      // over the bounded (source, nt) histogram — integer-exact rank
      // via (tot*q_ppm + 999999) // 1000000 in both engines
      "t111_report_quantiles" ->
        s"""WITH d AS (SELECT source, CAST($nTokens AS BIGINT) AS nt FROM documents
            WHERE $nTokens IS NOT NULL),
          h AS (SELECT source, nt, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY 1, 2),
          c AS (SELECT source, nt,
              CAST(sum(cnt) OVER (PARTITION BY source ORDER BY nt) AS BIGINT) AS cum,
              CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS tot FROM h)
          SELECT source,
            min(CASE WHEN cum >= (tot * 500000 + 999999) // 1000000 THEN nt END) AS p50_tokens,
            min(CASE WHEN cum >= (tot * 900000 + 999999) // 1000000 THEN nt END) AS p90_tokens,
            min(CASE WHEN cum >= (tot * 990000 + 999999) // 1000000 THEN nt END) AS p99_tokens
          FROM c GROUP BY source ORDER BY source""",
      // cross-source 8-gram overlap census: distinct (source, gram),
      // self-join, count shared grams per source pair
      "t102_source_overlap" ->
        s"""WITH g AS (SELECT DISTINCT source, unnest($grams8) AS gram FROM documents)
          SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS n_shared
          FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
          GROUP BY 1, 2 ORDER BY 1, 2""",
      // temperature mixture: identical integer quota derivation, then the
      // q57 md5-hashUnit membership against the exact double quota/n
      "t77_temperature_mix" ->
        """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY source),
          t AS (SELECT CAST(sum(n) AS HUGEINT) * 300000 // 1000000 AS T,
                  CAST(sum(CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT)) AS HUGEINT) AS sumW
                FROM c),
          q AS (SELECT source, n,
                  least(CAST((SELECT T FROM t) * CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT)
                    // (SELECT sumW FROM t) AS BIGINT), n) AS quota
                FROM c),
          u AS (SELECT d.source, d.n_chars, q.quota, q.n,
                  CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 12)) AS BIGINT) / 281474976710656.0 AS hu
                FROM documents d JOIN q USING (source))
          SELECT source, CAST(count(*) AS BIGINT) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS sum_chars
          FROM u WHERE hu < CAST(quota AS DOUBLE) / CAST(n AS DOUBLE)
          GROUP BY source ORDER BY source""",
      // waterfill mixture: same integer derivation, two rounds unrolled —
      // round 1 saturates a_tiny (CASE q >= n), round 2 re-divides the
      // remainder over the open sources with the original √n weights;
      // the Scala loop provably stops after round 2 on this layout
      "t80_mixture_waterfill" ->
        """WITH d AS (SELECT doc_id, n_chars,
            CASE WHEN doc_id < 10 THEN 'a_tiny' ELSE 'src' || CAST(doc_id % 3 AS VARCHAR) END AS mix_src
          FROM documents),
          c AS (SELECT mix_src, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY mix_src),
          w AS (SELECT mix_src, n, CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT) AS w FROM c),
          t0 AS (SELECT CAST(sum(n) AS HUGEINT) * 600000 // 1000000 AS T,
                   CAST(sum(w) AS HUGEINT) AS sumW FROM w),
          q1 AS (SELECT mix_src, n, w, (SELECT T FROM t0) * w // (SELECT sumW FROM t0) AS q FROM w),
          r2 AS (SELECT (SELECT T FROM t0) - CAST(sum(CASE WHEN q >= n THEN n ELSE 0 END) AS HUGEINT) AS T2,
                   CAST(sum(CASE WHEN q < n THEN w ELSE 0 END) AS HUGEINT) AS sumW2 FROM q1),
          q2 AS (SELECT mix_src, n,
                   CASE WHEN q >= n THEN CAST(n AS HUGEINT)
                        ELSE (SELECT T2 FROM r2) * w // (SELECT sumW2 FROM r2) END AS quota
                 FROM q1),
          u AS (SELECT d.mix_src, d.n_chars, q2.quota, q2.n,
                  CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 12)) AS BIGINT) / 281474976710656.0 AS hu
                FROM d JOIN q2 USING (mix_src))
          SELECT mix_src, CAST(count(*) AS BIGINT) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS sum_chars
          FROM u WHERE hu < CAST(quota AS DOUBLE) / CAST(n AS DOUBLE)
          GROUP BY mix_src ORDER BY mix_src""",
      // asymmetric containment over corpus ∪ half-length copies (t26 idiom)
      "t76_containment" ->
        s"""WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 200000 AS doc_id, substr(text, 1, CAST(n_chars // 2 AS INT)) AS text
            FROM documents WHERE doc_id < 50),
          sh AS (SELECT doc_id, $shingles AS s FROM corpus)
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
            CAST(floor(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / CAST(len(a.s) AS DOUBLE) * 1000000.0) AS BIGINT) AS containment_ppm
          FROM sh a, sh b WHERE a.doc_id <> b.doc_id
          AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / CAST(len(a.s) AS DOUBLE) >= 0.8
          ORDER BY a_id, b_id""",
      // embedding decontamination vs the %50 eval subset (t27 cosine twin)
      "t74_semantic_decontaminate" ->
        s"""SELECT a.vec_id AS doc_id, b.vec_id AS bench_id,
          CAST(floor(($cosine) * 1000000.0) AS BIGINT) AS cos_ppm
          FROM embeddings a, embeddings b
          WHERE b.vec_id % 50 = 0 AND a.vec_id <> b.vec_id AND $cosine >= 0.35
          ORDER BY doc_id, bench_id""",
      // CC + survivor selection over the t72 literal pairs (t59 idiom)
      "t73_semdedup_survivors" ->
        s"""WITH RECURSIVE pairs AS (SELECT a_id, b_id FROM (${LiteralOracles.t72})),
          edges AS (SELECT a_id AS u, b_id AS v FROM pairs
            UNION SELECT b_id AS u, a_id AS v FROM pairs),
          walk(id, reach) AS (
            SELECT u, u FROM (SELECT DISTINCT u FROM edges)
            UNION
            SELECT w.id, e.v FROM walk w JOIN edges e ON w.reach = e.u),
          losers AS (SELECT id FROM walk GROUP BY id HAVING id <> min(reach))
          SELECT vec_id FROM embeddings WHERE vec_id NOT IN (SELECT id FROM losers)
          ORDER BY vec_id""",
    )
    // the incremental form changes what is SCANNED (delta-bounded text
    // compute over persisted state), never the ledger: t133's oracle IS
    // t128's full-rebuild DuckDB twin, verbatim; t134 (replace-semantics
    // delta) converges on the SAME post-replace corpus = `documents`;
    // the SQL table-function surface (t135/t136/t137) changes how a
    // plan is NAMED, never the plan — each reuses its operator's twin
    base +
      ("t133_curation_delta" -> base("t128_curation_e2e")) +
      ("t134_curation_replace" -> base("t128_curation_e2e")) +
      ("t135_sql_neardup" -> base("t26_jaccard_pairs")) +
      ("t136_sql_bm25" -> base("t92_bm25_topk")) +
      ("t137_sql_curation" -> base("t128_curation_e2e")) +
      // t138: the store build IS t129's scenario (nCells=16, iters=2,
      // m=8, efC=48; search k=10, nprobe=8, ef=48) and stored-adjacency
      // search == one-call nswTopK (GraphAnnSpec bit-equality), so the
      // census equals t129's literal oracle — same reuse as t131
      ("t138_sql_ann" -> base("t131_knn_graph_persisted")) +
      // t139: two sequential merges converge on the same post-replace
      // corpus = `documents`, so the rebuild twin applies verbatim
      ("t139_curation_multibatch" -> base("t128_curation_e2e")) +
      // t140: build-time pairs ∪ indexed delta pairs == the full
      // self-join (exact verification makes the pair SET independent of
      // the prefix order), so t26's twin applies verbatim
      ("t140_neardup_indexed" -> base("t26_jaccard_pairs")) +
      // t141: the indexed state converges on the same post-replace
      // corpus and the ledger stages are identical — t128's twin again
      ("t141_curation_indexed" -> base("t128_curation_e2e")) +
      // t142: batch-1 probe ∪ batch-2 probe = exactly the pairs with an
      // odd-id (batch) member — t26's twin with that one restriction
      // spliced into its WHERE (the self-join clause appears once)
      ("t142_neardup_store" -> base("t26_jaccard_pairs").replace(
        "WHERE a.doc_id < b.doc_id",
        "WHERE a.doc_id < b.doc_id AND (a.doc_id % 2 = 1 OR b.doc_id % 2 = 1)")) +
      // t143: t123's exact scenario through the unified index — the
      // indexed path reconstructs the post-delta order and hot set
      // exactly, so the literal oracle applies verbatim
      ("t143_containment_indexed" -> base("t123_containment_delta")) +
      // t144: t121's exact scenario through the persisted winnowing
      // index — shared-fp counting is order-free and the cap evaluates
      // from the exact delta-adjusted census, so the pair set (and the
      // literal oracle) applies verbatim
      ("t144_winnowing_indexed" -> base("t121_winnowing_delta")) +
      // t145: after batch 1's re-uploads land, v2's logical corpus is
      // exactly `documents`, and batch 2 is t123's delta — the
      // cross-version stitched probe reconstructs the batch algorithm
      // bit-for-bit (census exact, head re-derived, cap per shingle),
      // so t123's literal oracle applies verbatim
      ("t145_containment_store" -> base("t123_containment_delta")) +
      // t146: t144's exact scenario through the unified store — the
      // committed view's winnowing components equal the plain index's
      // (one build, no appends), so t121's literal oracle applies
      ("t146_winnowing_store" -> base("t121_winnowing_delta")) +
      // t147: t65's exact scenario through the unified store — same
      // signatures over the same stored shingle sets, same exact
      // verification, so t65's literal oracle applies verbatim
      ("t147_minhash_store" -> base("t65_incremental_minhash")) +
      // t148: the delta-touching restriction of t100's twin — probe-1
      // pairs are exactly the pairs with a %3==0 member
      ("t148_fuzzy_store" -> base("t100_fuzzy_key_pairs").replace(
        "WHERE hamming(ak, bk) <= 3",
        "WHERE hamming(ak, bk) <= 3 AND (a_id % 3 = 0 OR b_id % 3 = 0)")) +
      // t149: t142's exact probe scenario across an auto-triggered
      // compact(refreeze) — maintenance changes candidate cost, never
      // answers, so t142's oracle applies verbatim
      ("t149_store_maintenance" -> base("t26_jaccard_pairs").replace(
        "WHERE a.doc_id < b.doc_id",
        "WHERE a.doc_id < b.doc_id AND (a.doc_id % 2 = 1 OR b.doc_id % 2 = 1)")) +
      // t153: churn-bounded ledger output — the post-replace rebuild
      // twin EXCEPT the same twin over the pre-batch placeholder
      // corpus (post == t141's convergence; pre == t128's twin on any
      // corpus, the t133/t134 rationale; bench docs are never touched:
      // doc_id ≡ 0 (mod 50) is even, never ≡ 3 (mod 4), so the gram
      // index is identical in both operands)
      ("t153_ledger_changed" -> {
        val post = base("t128_curation_e2e")
        val pre = post.replace("FROM documents", "FROM predocs")
          .replace("JOIN documents", "JOIN predocs")
        s"""WITH predocs AS (SELECT doc_id,
             CASE WHEN doc_id % 4 = 3
               THEN 'obsolete draft placeholder revision ' || substring(text, 1, 48)
               ELSE text END AS text,
             n_chars, source FROM documents)
           SELECT * FROM (
             SELECT * FROM ($post) post_ledger
             EXCEPT
             SELECT * FROM ($pre) pre_ledger
           ) ORDER BY doc_id"""
      }) +
      // t160: t153's nested rebuild-twin EXCEPT at the steady-state
      // batch size (%64==3 placeholders) — the diff mechanism (bounded
      // candidates vs plain except) is answer-invariant by CurationSpec
      ("t160_ledger_changed_small" -> {
        val post = base("t128_curation_e2e")
        val pre = post.replace("FROM documents", "FROM predocs")
          .replace("JOIN documents", "JOIN predocs")
        s"""WITH predocs AS (SELECT doc_id,
             CASE WHEN doc_id % 64 = 3
               THEN 'obsolete draft placeholder revision ' || substring(text, 1, 48)
               ELSE text END AS text,
             n_chars, source FROM documents)
           SELECT * FROM (
             SELECT * FROM ($post) post_ledger
             EXCEPT
             SELECT * FROM ($pre) pre_ledger
           ) ORDER BY doc_id"""
      }) +
      // t161: t160's oracle VERBATIM — the store path changes how the
      // answer is computed (churn-bounded candidate recompute + splice
      // instead of a full post ledger), never what it is; equality with
      // the frame path and rebuild twins is CurationLedgerStoreSpec's
      ("t161_ledger_store" -> {
        val post = base("t128_curation_e2e")
        val pre = post.replace("FROM documents", "FROM predocs")
          .replace("JOIN documents", "JOIN predocs")
        s"""WITH predocs AS (SELECT doc_id,
             CASE WHEN doc_id % 64 = 3
               THEN 'obsolete draft placeholder revision ' || substring(text, 1, 48)
               ELSE text END AS text,
             n_chars, source FROM documents)
           SELECT * FROM (
             SELECT * FROM ($post) post_ledger
             EXCEPT
             SELECT * FROM ($pre) pre_ledger
           ) ORDER BY doc_id"""
      }) +
      // t162: the streaming twin's emissions TELESCOPE (upsert by id,
      // latest batch wins) to the from-scratch pipeline over the final
      // corpus — t128's e2e oracle over the query's quarter corpus
      ("t162_ledger_stream" -> {
        val post = base("t128_curation_e2e")
          .replace("FROM documents", "FROM sdocs")
          .replace("JOIN documents", "JOIN sdocs")
        s"""WITH sdocs AS (SELECT doc_id, text, n_chars, source
             FROM documents WHERE doc_id % 4 = 0)
           SELECT * FROM ($post) final_ledger ORDER BY doc_id"""
      })
  }
}

/** Literal expected BPE merge table at the driver's verify scale
  * (sf0.01, 24 merges) — the training is deterministic (ties break by
  * (count desc, pair lexicographic)), and BpeSpec proves the
  * distributed trainer equals the driver-side reference encoder, so a
  * recorded literal is a sound oracle: any regression in the
  * distributed pair-count/merge loop breaks the hash compare. */
private[graft] object BpeMergesOracle {
  val merges: Seq[(String, String)] = Seq(
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"), ("m", "er"),
    ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"), ("j", "o"), ("jo", "in"),
    ("a", "s"), ("as", "h"), ("h", "ash"), ("r", "ow"), ("at", "c"),
    ("atc", "h"), ("b", "atch"), ("a", "n"), ("c", "an"), ("s", "can"),
    ("c", "o"), ("c", "u"))

  def sql: String = {
    val rows = merges.zipWithIndex.map { case ((l, r), i) =>
      val esc = (s: String) => s.replace("'", "''")
      s"(CAST($i AS BIGINT), '${esc(l)}', '${esc(r)}')"
    }.mkString(",\n          ")
    s"""SELECT * FROM (VALUES
          $rows) AS t(rank, l, r) ORDER BY rank"""
  }
}
