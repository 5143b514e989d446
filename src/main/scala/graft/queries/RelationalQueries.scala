package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Merge, Ordinals}
import graft.operators.Merge.{DuplicateMode, ImportMode, Key}

/** Relational import/merge/transform queries — the reference import matrix (scan+agg, dedup-merge modes, scalar transforms, type inference) plus the window/rollup/pivot analytics and JDBC round-trip.
  *
  * Split from the monolithic `SparkEntry.scala` in round 11 (it had
  * grown to 9.5k lines); self-typed to [[SparkEntry]] so every query
  * and shared helper keeps resolving unqualified across family files.
  * Contributes [[queriesRelational]] / [[oracleSqlRelational]] to the
  * assembled driver contract.
  */
private[graft] trait RelationalQueries { this: SparkEntry.type =>

  import Tables._

  // ---------------------------------------------------------------- q01
  /** Pricing-summary scan+aggregate (filter pushdown + partial aggregation;
    * the "big import with statistics" analog of reference
    * DbImportWorker.java:879-934 run as a query).
    */
  def q01ScanAgg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
        sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  // ---------------------------------------------------------------- q02
  /** Multi-way dimension join + aggregate. nation/region are broadcast by
    * AQE; only orders⨝customer shuffles.
    */
  def q02JoinDims(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(nation(s, d), col("c_nationkey") === col("n_nationkey"))
      .join(region(s, d), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA" && col("o_orderdate") >= lit("1995-01-01"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
      .orderBy(col("n_name"))

  // ---------------------------------------------------------------- q03
  /** insertNotExistingItems probe: left-anti join on the merge keys
    * (reference DbImportWorker.java:494 / SURVEY §2.4).
    */
  def q03AntiJoin(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  // ---------------------------------------------------------------- q04
  /** NoSQL existence probe: left-semi join (reference
    * DbNoSqlImportWorker.java:342 / SURVEY §2.4).
    */
  def q04SemiJoin(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  // ---------------------------------------------------------------- q05
  /** dropDuplicates keep-FIRST-occurrence (reference DbUtilities
    * .dropDuplicates, SURVEY §2.5) — window row_number, not Spark's
    * order-unstable dropDuplicates.
    */
  def q05DropDuplicatesFirst(s: SparkSession, d: String): DataFrame =
    // (l_orderkey, l_linenumber) is NOT unique in the test data; the
    // keep-first order must be total or the survivor is nondeterministic.
    Dedup.dropDuplicatesKeepFirst(
        lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"), col("l_quantity"), col("l_extendedprice")),
        Seq("l_orderkey"),
        Seq(col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice")))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_quantity"))
      .orderBy(col("l_orderkey"))

  // ---------------------------------------------------------------- q06
  /** joinDuplicates: merge each duplicate group, later rows win; the
    * ignore-null variant keeps the last NON-null per column
    * (updateWithNullValues=false, reference README.md:87, SURVEY §2.5).
    */
  def q06JoinDuplicates(s: SparkSession, d: String): DataFrame = {
    val src = events(s, d).select(
      col("user_id"), col("event_id"),
      when(col("event_type") === "click", lit(null)).otherwise(col("value")).as("v"),
      col("props"))
    val inclNull = Dedup.joinDuplicates(
        src.select(col("user_id"), col("event_id"), col("v")),
        Seq("user_id"), col("event_id"), updateWithNull = true)
      .withColumnRenamed("v", "last_v_incl_null").drop("event_id")
    val nonNull = Dedup.joinDuplicates(
        src.select(col("user_id"), col("event_id"), col("v"), col("props")),
        Seq("user_id"), col("event_id"), updateWithNull = false)
      .withColumnRenamed("v", "last_v_non_null")
      .withColumnRenamed("props", "last_props").drop("event_id")
    inclNull.join(nonNull, Seq("user_id")).orderBy(col("user_id"))
  }

  // ---------------------------------------------------------------- q07
  /** detectDuplicates: how many key groups occur more than once
    * (reference gate for UPDATE_FIRST modes, SURVEY §2.5).
    */
  def q07DetectDuplicates(s: SparkSession, d: String): DataFrame =
    Dedup.duplicateKeyGroups(lineitem(s, d), Seq("l_orderkey"))
      .agg(count(lit(1)).as("dup_keys"),
        coalesce(sum(col("dup_count")), lit(0L)).as("dup_rows"))

  // ---------------------------------------------------------------- q08
  /** updateAllExistingItems with updateWithNullValues=false: matched
    * target rows take staged values, but nulls never overwrite
    * (per-column coalesce; reference DbImportWorker.java:535).
    */
  def q08UpdateAllJoin(s: SparkSession, d: String): DataFrame = {
    val staged = orders(s, d).groupBy(col("o_custkey").as("c_custkey"))
      .agg(max(col("o_totalprice")).as("mx"))
      .select(col("c_custkey"),
        when(col("mx") < 150000.0, lit(null)).otherwise(col("mx")).as("c_acctbal"))
    Merge.updateAll(customer(s, d), staged, Seq(Key("c_custkey")), updateWithNull = false)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  // ---------------------------------------------------------------- q09
  /** updateFirstExistingItems: only the first occurrence (by target
    * order) of a duplicated target key is updated
    * (reference DbImportWorker.java:518-526).
    */
  def q09UpdateFirst(s: SparkSession, d: String): DataFrame = {
    val staged = orders(s, d).groupBy(col("o_orderkey").as("l_orderkey"))
      .agg(max(col("o_totalprice")).as("l_quantity"))
    // Total target order (see q05) so "first occurrence" is well-defined;
    // the final sort uses only update-invariant columns.
    Merge.updateFirst(
        lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"), col("l_extendedprice"), col("l_quantity")),
        staged, Seq(Key("l_orderkey")),
        targetOrder = Seq(col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          col("l_extendedprice")))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_extendedprice"))
  }

  // ---------------------------------------------------------------- q10
  /** Full UPSERT pipeline (mode matrix of reference
    * DbImportWorker.java:537-578 with default UPDATE_ALL_JOIN and
    * updateWithNullValues=false): stage → join-duplicates → update-join →
    * anti-join insert.
    */
  def q10UpsertPipeline(s: SparkSession, d: String): DataFrame = {
    val source = orders(s, d).select(
      when(col("o_orderkey") % 10 === 0, col("o_custkey") + 2000000)
        .otherwise(col("o_custkey")).as("c_custkey"),
      when(col("o_orderstatus") === "F", lit(null))
        .otherwise(concat(lit("cust_"), col("o_orderpriority"))).as("c_name"),
      col("o_totalprice").as("c_acctbal"),
      col("o_orderkey").as("ord"))
    Merge.importMerge(
        target = customer(s, d), source = source, keys = Seq(Key("c_custkey")),
        mode = ImportMode.Upsert, dupMode = DuplicateMode.UpdateAllJoin,
        updateWithNull = false,
        sourceOrder = col("ord"), targetOrder = Seq(col("c_custkey")))
      .orderBy(col("c_custkey"))
  }

  // ---------------------------------------------------------------- q11
  /** INSERT mode with duplicate checks: in-source dedup keep-first, then
    * append the staged rows whose key the target lacks (anti-join vs
    * target, reference DbImportWorker.java:495-514).
    */
  def q11InsertPipeline(s: SparkSession, d: String): DataFrame = {
    val source = orders(s, d).select(
      (col("o_custkey") % 7000).as("c_custkey"),
      concat(lit("new_"), col("o_orderstatus")).as("c_name"),
      col("o_totalprice").as("c_acctbal"),
      col("o_orderkey").as("ord"))
    Merge.importMerge(
        target = customer(s, d), source = source, keys = Seq(Key("c_custkey")),
        mode = ImportMode.Insert, dupMode = DuplicateMode.UpdateFirstDrop,
        updateWithNull = true,
        sourceOrder = col("ord"), targetOrder = Seq(col("c_custkey")))
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_custkey"), col("c_name"))
  }

  // ---------------------------------------------------------------- q12
  /** Arrival ordinal (import_item) — the reference's load-bearing
    * "first occurrence" device (DbUtilities.addIndexedIntegerColumn,
    * DbImportWorker.java:465,992-997) as an explicit-order ordinal.
    */
  def q12ArrivalOrdinal(s: SparkSession, d: String): DataFrame =
    Ordinals.withOrderedOrdinal(
        orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        Seq(col("o_orderkey")))
      .orderBy(col("o_orderkey"))

  // ---------------------------------------------------------------- q13
  /** Decimal format-info transforms (`.` and `,` formats, reference
    * DbImportWorker.java:1145-1208): build locale-formatted strings from
    * part prices, parse them back; the oracle asserts exact round-trip.
    */
  def q13DecimalFormats(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Transforms
    val src = part(s, d).select(col("p_partkey"),
      format_number(col("p_retailprice"), 2).as("dot_str"))
      .withColumn("comma_str", translate(col("dot_str"), ",.", ".,"))
    src.select(col("p_partkey"),
        Transforms.parseDecimalDot(col("dot_str")).as("parsed_dot"),
        Transforms.parseDecimalComma(col("comma_str")).as("parsed_comma"))
      .orderBy(col("p_partkey"))
  }

  // ---------------------------------------------------------------- q14
  /** Case folding + email normalize/validate format infos (reference
    * DbImportWorker.java:1316-1342).
    */
  def q14CaseEmail(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Transforms
    val raw = concat(lit("User."), col("c_custkey"),
      when(col("c_custkey") % 5 === 0, lit(".Example.COM  ")).otherwise(lit("@Example.COM  ")))
    customer(s, d).select(col("c_custkey"),
        Transforms.emailNormalize(raw).as("email_clean"),
        Transforms.emailValid(raw).as("email_valid"),
        Transforms.lowerCase(col("c_mktsegment")).as("seg_lc"),
        Transforms.upperCase(col("c_name")).as("name_uc"))
      .orderBy(col("c_custkey"))
  }

  // ---------------------------------------------------------------- q15
  /** Date/datetime pattern parse with the reference's fallback chain
    * (5-stage coalesce, DbImportWorker.java:1372-1483) + fixed-offset
    * import-TZ → db-TZ shift (`-idtz`/`-dbtz`,
    * DbImportWorker.java:1347-1349).
    */
  def q15DateChain(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Transforms
    val str = when(col("o_custkey") % 3 === 0, date_format(col("o_orderdate"), "dd.MM.yyyy HH:mm:ss"))
      .when(col("o_custkey") % 3 === 1, date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"))
      .otherwise(date_format(col("o_orderdate"), "yyyy/MM/dd HH:mm:ss"))
    val parsed = Transforms.parseTimestampChain(col("date_str"),
      Seq("dd.MM.yyyy HH:mm:ss", "yyyy-MM-dd HH:mm:ss", "yyyy/MM/dd HH:mm:ss"))
    orders(s, d).withColumn("date_str", str)
      .select(col("o_orderkey"), parsed.as("parsed_ts"),
        Transforms.shiftTimezone(parsed, "+02:00", "UTC").as("shifted_ts"))
      .orderBy(col("o_orderkey"))
  }

  // ---------------------------------------------------------------- q16
  /** Boolean interpretation, integer coercion, null-token and
    * non-null-String repair (reference DbImportWorker.java:1488-1566,
    * 1124-1136; CsvDataProvider.java:211-213).
    */
  def q16Coercions(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Transforms
    val boolStr = when(col("c_custkey") % 4 === 0, lit("true"))
      .when(col("c_custkey") % 4 === 1, lit("False"))
      .when(col("c_custkey") % 4 === 2, lit("1"))
      .otherwise(lit("no"))
    val intStr = when(col("c_custkey") % 3 === 0, lit("true"))
      .when(col("c_custkey") % 3 === 1, concat(col("c_custkey"), lit(".0")))
      .otherwise(col("c_custkey").cast("string"))
    val tokenStr = when(col("c_custkey") % 7 === 0, lit("NULL")).otherwise(col("c_mktsegment"))
    customer(s, d).select(col("c_custkey"),
        Transforms.interpretBool(boolStr).as("bool_val"),
        Transforms.coerceInt(intStr).as("int_val"),
        Transforms.nullToken(tokenStr, "NULL").as("segment_or_null"),
        Transforms.notNullStringRepair(Transforms.nullToken(tokenStr, "NULL")).as("segment_repaired"))
      .orderBy(col("c_custkey"))
  }

  // ---------------------------------------------------------------- q17
  /** Base64 → Blob format info (reference DbImportWorker.java:1484-1487):
    * encode document prefixes to base64, decode back to binary. The
    * oracle compares the HEX RENDERING of the round-tripped blob (the
    * driver's pandas compare cannot hash raw bytearrays); the byte-exact
    * binary round-trip itself is asserted in FunctionsSpec.
    */
  def q17Base64Blob(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Transforms
    documents(s, d).select(col("doc_id"),
        hex(Transforms.base64Blob(
          base64(substring(col("text"), 1, 64).cast("binary")))).as("blob_out"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- q18
  /** Schema inference lattice (reference DataProvider.java:61-148) as one
    * distributed aggregation pass over stringified columns; the oracle
    * re-implements the same lattice in SQL.
    */
  def q18InferTypes(s: SparkSession, d: String): DataFrame = {
    val src = orders(s, d).select(
      col("o_orderkey").cast("string").as("c1"),
      col("o_totalprice").cast("string").as("c2"),
      date_format(col("o_orderdate"), "dd.MM.yyyy").as("c3"),
      when(col("o_orderstatus") === "F", lit("true")).otherwise(lit("false")).as("c4"),
      col("o_orderpriority").as("c5"),
      (col("o_orderkey") * 1000000000L).cast("string").as("c6"),
      date_format(col("o_orderdate"), "dd.MM.yyyy HH:mm:ss").as("c7"))
    graft.schema.TypeLattice.infer(src).orderBy(col("column_name"))
  }

  // ---------------------------------------------------------------- q46
  /** Bloom-probed existence check: customers with no orders via
    * [[operators.BloomProbe.antiJoinWithBloom]] — rows the target-key
    * Bloom filter proves absent skip the join shuffle; "maybe" rows get
    * the exact anti-join. Oracle = the plain NOT EXISTS (the probe must
    * be result-invisible).
    */
  def q46BloomAnti(s: SparkSession, d: String): DataFrame =
    operators.BloomProbe.antiJoinWithBloom(
        customer(s, d).select(col("c_custkey"), col("c_name")),
        orders(s, d).filter(col("o_orderdate") >= lit("1998-01-01"))
          .select(col("o_custkey").as("c_custkey")),
        keys = Seq("c_custkey"), expectedKeys = 200000L)
      .orderBy(col("c_custkey"))

  // ---------------------------------------------------------------- q50
  /** Set operations (SURVEY §2.6): INTERSECT and EXCEPT between the
    * customer key sets ordering in 1995 vs 1996, unioned with a tag —
    * Spark plans both as aggregated joins (no distinct-on-driver).
    */
  def q50SetOps(s: SparkSession, d: String): DataFrame = {
    def orderers(year: Int) =
      orders(s, d)
        .filter(col("o_orderdate") >= lit(s"$year-01-01") &&
          col("o_orderdate") < lit(s"${year + 1}-01-01"))
        .select(col("o_custkey").as("c_custkey")).distinct()
    val a = orderers(1995)
    val b = orderers(1996)
    a.intersect(b).withColumn("op", lit("both_years"))
      .unionByName(a.except(b).withColumn("op", lit("only_1995")))
      .select(col("op"), col("c_custkey"))
      .orderBy(col("op"), col("c_custkey"))
  }

  // ---------------------------------------------------------------- q51
  /** Group-wise top-k (top-3 orders by price per priority class): a
    * rank-over-partition window. The partition count bounds parallelism,
    * but each partition streams — no per-group materialization, and at
    * scale the window shuffle is the only exchange.
    */
  def q51GroupTopK(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(s, d)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("o_orderpriority"), col("rank"), col("o_orderkey"),
        col("o_totalprice"))
      .orderBy(col("o_orderpriority"), col("rank"))
  }

  // ---------------------------------------------------------------- q52
  /** Per-user event-stream analytics: lag, running sum, and a 3-row
    * moving sum in one window pass (single shuffle on user_id; all three
    * frames share the sort).
    */
  def q52WindowAnalytics(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_utc"), col("event_id"))
    events(s, d)
      .withColumn("ts_utc", timestamp_micros(expr("ts DIV 1000")))
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .withColumn("running_sum",
        sum(col("value").cast("decimal(18,6)"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double"))
      .withColumn("moving3_sum",
        sum(col("value").cast("decimal(18,6)"))
          .over(w.rowsBetween(-2, Window.currentRow)).cast("double"))
      .select(col("user_id"), col("event_id"), col("ts_utc"), col("value"),
        col("prev_value"), col("running_sum"), col("moving3_sum"))
      .orderBy(col("user_id"), col("ts_utc"), col("event_id"))
  }

  // ---------------------------------------------------------------- q53
  /** Pivot (revenue by nation × order status) with an explicit value
    * list — fixed output schema, so the plan is a single hash aggregate
    * (no values-discovery pre-pass, which at scale would be an extra
    * full scan).
    */
  def q53Pivot(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(nation(s, d), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"))
      .orderBy(col("n_name"))

  // ---------------------------------------------------------------- q55
  /** Decile segmentation of customers by account balance + per-decile
    * stats. `ntile(10) OVER (ORDER BY …)` would collapse to a single
    * window partition; instead the bucket is re-derived from a
    * DISTRIBUTED ordered ordinal ([[Ordinals.withOrderedOrdinal]]: range
    * sort + per-partition offsets) using the SQL-standard ntile rule —
    * with N rows and k buckets the first N mod k buckets get one extra
    * row — so the result is bit-identical to the window form while every
    * stage stays parallel.
    */
  def q55Ntile(s: SparkSession, d: String): DataFrame = {
    val base = customer(s, d).select(col("c_custkey"), col("c_acctbal"))
    val ord = Ordinals.withOrderedOrdinal(base,
      Seq(col("c_acctbal"), col("c_custkey")), "__ord")
    val n = base.agg(count(lit(1)).as("__n"))
    ord.crossJoin(broadcast(n))
      // SQL ntile: s = N div k rows per bucket, first r = N mod k
      // buckets take s+1
      .withColumn("decile",
        expr("""CASE WHEN (__ord - 1) < (__n % 10) * (__n DIV 10 + 1)
               |  THEN (__ord - 1) DIV (__n DIV 10 + 1) + 1
               |  ELSE (__n % 10) + ((__ord - 1) - (__n % 10) * (__n DIV 10 + 1))
               |         DIV greatest(__n DIV 10, 1) + 1
               |END""".stripMargin).cast("int"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"),
        min(col("c_acctbal")).as("min_bal"),
        max(col("c_acctbal")).as("max_bal"),
        (sum(col("c_acctbal").cast("decimal(18,2)")).cast("double") /
          count(lit(1)).cast("double")).as("avg_bal"))
      .orderBy(col("decile"))
  }

  // ---------------------------------------------------------------- q63
  /** Pearson correlation per customer segment from EXACT decimal moment
    * sums (n, Σx, Σy, Σx², Σy², Σxy) — the one-pass, mergeable,
    * map-side-combinable formulation. The final arithmetic runs in
    * double on both engines over identical exact inputs, so the result
    * is bit-identical — unlike `corr()`, whose streaming update order is
    * engine-internal.
    */
  def q63Correlation(s: SparkSession, d: String): DataFrame = {
    val dec = "decimal(18,2)"
    val j = orders(s, d).join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"),
        col("o_totalprice").cast(dec).as("x"), col("c_acctbal").cast(dec).as("y"))
    val m = j.groupBy(col("c_mktsegment")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).cast("double").as("sx"),
      sum(col("y")).cast("double").as("sy"),
      sum(col("x") * col("x")).cast("double").as("sxx"),
      sum(col("y") * col("y")).cast("double").as("syy"),
      sum(col("x") * col("y")).cast("double").as("sxy"))
    val nD = col("n").cast("double")
    // rounded output: the scale-4 moment sums exceed 2^53, so the
    // decimal->double CAST itself rounds — engines agree to ~12
    // significant digits, not bit-exactly
    m.select(col("c_mktsegment"), col("n"),
        round((nD * col("sxy") - col("sx") * col("sy")) /
          (sqrt(nD * col("sxx") - col("sx") * col("sx")) *
           sqrt(nD * col("syy") - col("sy") * col("sy"))), 6).as("corr_price_bal"),
        (col("sx") / nD).as("avg_price"))
      .orderBy(col("c_mktsegment"))
  }

  // ---------------------------------------------------------------- q73
  /** Order-invariant per-group table checksum
    * ([[operators.TableChecksum]]): XOR + modular-sum of 48-bit row
    * hashes — verifies a 100 TB import against its source without
    * sorting or co-locating either side (commutative aggregates merge
    * across any partitioning).
    */
  def q73TableChecksum(s: SparkSession, d: String): DataFrame =
    operators.TableChecksum.checksum(lineitem(s, d),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_returnflag", "l_linestatus"),
        groupCols = Seq("l_returnflag"))
      .orderBy(col("l_returnflag"))

  // ---------------------------------------------------------------- q74
  /** CUBE grouping sets over customer segments × nations — all four
    * rollup combinations in ONE pass (Spark expands grouping sets
    * inside a single hash aggregate; no repeated scans).
    */
  def q74Cube(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(nation(s, d), col("c_nationkey") === col("n_nationkey"))
      .cube(col("c_mktsegment"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("sum_bal"))
      .select(coalesce(col("c_mktsegment"), lit("ALL")).as("mktsegment"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("n_cust"), col("sum_bal"))
      .orderBy(col("mktsegment"), col("nation"))

  // ---------------------------------------------------------------- q75
  /** Distribution ranks (percent_rank / cume_dist) of account balances
    * within each market segment — windows partitioned by segment, so
    * parallelism is the segment count and no global sort exists.
    */
  def q75DistributionRanks(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_mktsegment")).orderBy(col("c_acctbal"))
    customer(s, d).select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .withColumn("pr", round(percent_rank().over(w), 6))
      .withColumn("cd", round(cume_dist().over(w), 6))
      .orderBy(col("c_custkey"))
  }

  // ---------------------------------------------------------------- q79
  /** Keyed snapshot diff ([[operators.SnapshotDiff]]): classify rows
    * of a mutated orders snapshot as added / removed / changed via one
    * full-outer join on the key comparing engine-invariant row hashes.
    * The mutation is deterministic so the oracle reproduces it.
    */
  def q79SnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val old = orders(s, d)
    val neu = old.filter(col("o_orderkey") % 13 =!= 0)
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 7 === 0, lit("X")).otherwise(col("o_orderstatus")))
      .unionAll(old.filter(col("o_orderkey") % 11 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000000L))
    operators.SnapshotDiff.diff(old, neu, "o_orderkey",
        Seq("o_custkey", "o_orderstatus", "o_orderpriority"))
      .orderBy(col("o_orderkey"))
  }

  // ---------------------------------------------------------------- q81
  /** Incremental aggregate maintenance ([[operators.IncrementalAgg]]):
    * a standing per-customer aggregate state (90% of orders) is
    * refreshed by merging the delta batch's partials — base never
    * rescanned. Matches the full recompute exactly (decimal sums are
    * merge-order-invariant).
    */
  def q81IncrementalAgg(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).withColumn("price",
      col("o_totalprice").cast("decimal(18,2)"))
    val state = operators.IncrementalAgg.partials(
      o.filter(col("o_orderkey") % 10 =!= 0), Seq("o_custkey"), Seq("price"))
    val delta = operators.IncrementalAgg.partials(
      o.filter(col("o_orderkey") % 10 === 0), Seq("o_custkey"), Seq("price"))
    operators.IncrementalAgg.merge(state, delta, Seq("o_custkey"), Seq("price"))
      .select(col("o_custkey"), col("n").as("n_orders"),
        col("sum_price").cast("double").as("sum_price"))
      .orderBy(col("o_custkey"))
  }

  // ---------------------------------------------------------------- q82
  /** Semi-structured extraction: parse the events' JSON `props` column
    * in the scan stage (`get_json_object`, codegen'd — no UDF) and
    * aggregate the extracted field per event type.
    */
  def q82JsonExtract(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"),
        max(col("k")).as("max_k"), sum(col("k")).as("sum_k"))
      .orderBy(col("event_type"))

  // ---------------------------------------------------------------- q84
  /** Time-series regridding: per-user hourly grid from first to last
    * event, left-joined with actual activity, gaps forward-filled with
    * the last observed value (`last(..., ignoreNulls)` over a
    * user-partitioned window). Grid generation is `sequence` +
    * `explode` in the scan stage; all ts arithmetic in integer micros.
    */
  def q84ResampleFfill(s: SparkSession, d: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val ev = events(s, d).filter(col("user_id") < 8)
      .select(col("user_id"), expr("ts DIV 1000").as("us"), col("value"))
      .withColumn("hour_us", (col("us") - (col("us") % hourUs)))
    val hourly = ev.groupBy(col("user_id"), col("hour_us"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("sum_value"))
    val grid = hourly.groupBy(col("user_id"))
      .agg(min(col("hour_us")).as("lo"), max(col("hour_us")).as("hi"))
      .select(col("user_id"),
        explode(sequence(col("lo"), col("hi"), lit(hourUs))).as("hour_us"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("hour_us"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    grid.join(hourly, Seq("user_id", "hour_us"), "left")
      .withColumn("n_events", coalesce(col("n_events"), lit(0L)))
      .withColumn("ffill_value",
        last(col("sum_value"), ignoreNulls = true).over(w).cast("double"))
      .select(col("user_id"), col("hour_us"), col("n_events"),
        col("ffill_value"))
      .orderBy(col("user_id"), col("hour_us"))
  }

  // ---------------------------------------------------------------- q85
  /** Table profiling ([[operators.TableProfile]]): per-column nulls,
    * exact distinct counts, min/max — the pre-import inspection pass.
    */
  def q85Profile(s: SparkSession, d: String): DataFrame =
    operators.TableProfile.profile(
        customer(s, d).withColumn("c_acctbal",
          col("c_acctbal").cast("decimal(18,2)")),
        Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal"))
      .orderBy(col("column_name"))

  // ---------------------------------------------------------------- q86
  /** CDC log application ([[operators.CdcApply]]): a synthesized I/U/D
    * change log over orders folds to final state in ONE max_by hash
    * aggregation (no window, no sort). The oracle states the expected
    * final table directly.
    */
  def q86CdcApply(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val log = o.select(col("o_orderkey"), lit("I").as("op"), lit(1L).as("ord"),
        col("o_orderstatus").as("status"), col("o_custkey"))
      .unionAll(o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), lit("U").as("op"), lit(2L).as("ord"),
          lit("U").as("status"), col("o_custkey")))
      .unionAll(o.filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), lit("D").as("op"), lit(3L).as("ord"),
          lit(null).cast("string").as("status"), col("o_custkey")))
    operators.CdcApply.applyLog(log, "o_orderkey", "op", "ord",
        Seq("status", "o_custkey"))
      .orderBy(col("o_orderkey"))
  }

  // ---------------------------------------------------------------- q87
  /** Z-order locality audit ([[operators.ZOrder]]): Morton-interleave
    * (part, supplier) and bucket the code — each bucket bounds BOTH
    * dimensions, the property that makes parquet min/max stats prune
    * two-key filters after a Z-order write. Pure bit arithmetic.
    */
  def q87ZOrder(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select((col("l_partkey") % 1024).as("p"), (col("l_suppkey") % 1024).as("sk"))
      .withColumn("zbin",
        shiftright(operators.ZOrder.morton2(col("p"), col("sk")), 12))
      .groupBy(col("zbin"))
      .agg(count(lit(1)).as("n"), min(col("p")).as("min_p"),
        max(col("p")).as("max_p"), min(col("sk")).as("min_s"),
        max(col("sk")).as("max_s"))
      .orderBy(col("zbin"))

  // ---------------------------------------------------------------- q123
  /** SCD Type-2 dimension build from the event change stream: per
    * user, consecutive runs of the same `event_type` collapse into one
    * version row with a `[valid_from, valid_to)` interval; the open
    * version carries the classic 9999-12-31 high date. Lag (change
    * detection), lead (interval close) and the version ordinal all run
    * inside one user-partitioned window — a single shuffle, the
    * warehouse-standard slowly-changing-dimension shape.
    */
  def q123Scd2(s: SparkSession, d: String): DataFrame = {
    val high = 253402300799000000L // 9999-12-31T23:59:59 in epoch-µs
    val ev = events(s, d).select(col("user_id"), col("event_id"),
      expr("ts DIV 1000").as("us"), col("event_type"))
    operators.Scd2.versions(ev, "user_id", "us", "event_id", "event_type", high)
      .select(col("user_id"), col("version_no"), col("event_type"),
        col("valid_from").as("valid_from_us"), col("valid_to").as("valid_to_us"))
      .orderBy(col("user_id"), col("version_no"))
  }

  // ---------------------------------------------------------------- q172
  /** JDBC sink round-trip — the ONE layer with no oracle-backed row
    * until now: a real import through [[api.Importer.importToJdbc]]
    * into embedded Derby (auto-create + a keyed completeCommit Insert,
    * then a keyed Upsert on a delta; both run `JdbcMerge.mergeViaSql`),
    * read back through the JDBC source. The oracle replays the merge
    * relationally (FULL JOIN + coalesce, delta wins). `bal` stays an
    * untouched IEEE double both ways (×2 is exact), so the hash
    * compare covers value fidelity through the sink, not just shape.
    * The tiny collect is the TABLE (≤ 60 rows read back from Derby),
    * never corpus data — it lets the in-memory database be dropped
    * eagerly instead of leaking per call.
    */
  def q172JdbcRoundtrip(s: SparkSession, d: String): DataFrame = {
    import graft.api.Importer
    val url = s"jdbc:derby:memory:graftq172_${System.nanoTime()};create=true"
    val base = customer(s, d).filter(col("c_custkey") <= 50)
      .select(col("c_custkey").as("id"), col("c_name").as("name"),
        col("c_acctbal").as("bal"))
    Importer.importToJdbc(base, url, "q172_target",
      Importer.ImportConfig(mode = ImportMode.Insert,
        keyColumns = Seq("id"), createTableIfNeeded = true,
        completeCommit = true))
    val delta = customer(s, d)
      .filter(col("c_custkey") >= 26 && col("c_custkey") <= 60)
      .select(col("c_custkey").as("id"), col("c_name").as("name"),
        (col("c_acctbal") * 2).as("bal"))
    Importer.importToJdbc(delta, url, "q172_target",
      Importer.ImportConfig(mode = ImportMode.Upsert,
        keyColumns = Seq("id")))
    val back = s.read.format("jdbc").option("url", url)
      .option("dbtable", "q172_target")
      .option("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver").load()
    val rows = back.select(col("ID").cast("long").as("id"),
        col("NAME").as("name"), col("BAL").cast("double").as("bal"))
      .collect().toSeq
    scala.util.Try(java.sql.DriverManager.getConnection(
      url.replace(";create=true", ";drop=true")))
    import s.implicits._
    rows.map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toDF("id", "name", "bal").orderBy(col("id"))
  }

  // ---------------------------------------------------------------- q49
  /** Multi-level ROLLUP aggregation (subtotals + grand total in one
    * pass — Spark expands grouping sets map-side, no extra scan).
    * Grouping-null keys surface as 'ALL' so the row set is
    * hash-comparable.
    */
  def q49Rollup(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("n"), col("sum_qty"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  // ---------------------------------------------------------------- q41
  /** Skew-mitigated join on a GENUINELY hot key: ~70% of lineitem rows
    * collapse onto skew_key 0 (a real-world "default value" hot key), so
    * the plain shuffle join lands 70% of the fact on ONE reducer. The
    * salted join spreads that key over `saltFactor` reducers and is
    * result-identical — the oracle IS the plain join. The dimension here
    * is broadcastable at test scale; salting is the tool for when it is
    * not (measured salted-vs-plain in PLANS.md).
    */
  def q41SaltedJoin(s: SparkSession, d: String): DataFrame = {
    val fact = lineitem(s, d).select(
      when(col("l_orderkey") % 10 < 7, 0L).otherwise(col("l_orderkey") % 997)
        .as("skew_key"),
      col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    val dim = orders(s, d)
      .select((col("o_orderkey") % 997).as("skew_key")).distinct()
      .withColumn("bucket_mod", col("skew_key") % 5)
    operators.Skew.saltedJoin(fact, dim, keys = Seq("skew_key"),
        saltFactor = 8, saltSource = hash(col("l_orderkey"), col("l_linenumber")))
      .groupBy(col("bucket_mod"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .orderBy(col("bucket_mod"))
  }

  // ---------------------------------------------------------------- q188
  /** Declarative data-quality constraint audit
    * ([[operators.Constraints.audit]]): NOT NULL / UNIQUE / range /
    * domain / referential integrity over the star schema in one
    * report — the pre-promotion gate a pipeline runs before a
    * snapshot goes live. Each per-row check is one scan-stage
    * aggregation; referential checks are key-only anti joins.
    */
  def q188ConstraintAudit(s: SparkSession, d: String): DataFrame = {
    import operators.Constraints._
    val c = customer(s, d)
    val o = orders(s, d)
    val l = lineitem(s, d)
    audit(Seq(
      Check("customer_custkey_not_null", "customer",
        notNull(c, "c_custkey")),
      Check("customer_custkey_unique", "customer",
        unique(c, Seq("c_custkey"))),
      Check("customer_acctbal_range", "customer",
        inRange(c, "c_acctbal", lit(-1000.0), lit(10000.0))),
      Check("customer_mktsegment_domain", "customer",
        inSet(c, "c_mktsegment", Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
          "HOUSEHOLD", "MACHINERY"))),
      Check("orders_custkey_ref_customer", "orders",
        refIntegrity(o, "o_custkey", c, "c_custkey")),
      Check("lineitem_orderkey_ref_orders", "lineitem",
        refIntegrity(l, "l_orderkey", o, "o_orderkey")),
      Check("orders_totalprice_range", "orders",
        inRange(o, "o_totalprice", lit(1.0), lit(1000000.0)))))
  }

  // ---------------------------------------------------------------- q206
  /** Dedup survivorship audit: after the quality-canonical election
    * (q104), no two SURVIVORS may still be near-dups of each other —
    * the self-validation a dedup pass ships with its output. One
    * semi-join of the pair artifact against the survivor set from
    * both ends; the invariant holds exactly when n_residual_pairs = 0
    * (pairs are intra-cluster by construction and each cluster keeps
    * one member). 16th consumer of the shared artifacts.
    */
  def q206SurvivorAudit(s: SparkSession, d: String): DataFrame = {
    val survivors = operators.ConnectedComponents
      .keepBestFromLabels(
        dedupCorpus(s, d).withColumn("quality",
          functions.TextAnalysis.qualityScore(col("text"))),
        "doc_id", "quality", dedupLabels(s, d))
      .filter(col("keep"))
      .select(col("doc_id").as("sid"))
    val pairs = dedupPairs(s, d)
    val residual = pairs
      .join(survivors.select(col("sid").as("id1")), Seq("id1"), "left_semi")
      .join(survivors.select(col("sid").as("id2")), Seq("id2"), "left_semi")
    survivors.agg(count(lit(1)).as("n_survivors"))
      .crossJoin(broadcast(residual.agg(count(lit(1)).as("n_residual_pairs"))))
      .withColumn("invariant_holds", col("n_residual_pairs") === 0L)
  }

  // ---------------------------------------------------------------- q231
  /** Bucketed CO-LOCATED join ([[sink.BucketedStore]] — SURVEY §4's
    * "co-locate joins via bucketing" made an oracle row): both join
    * sides are persisted as parquet tables bucketed on the join key,
    * so the equi-join reads pre-clustered data and plans with NO
    * shuffle exchange on either side (ComponentsSpec pins the plan
    * shape; this query pins the RESULT). At 100 TB this is the
    * repeated-merge pattern: bucket the big target once at write,
    * every later join against it skips the target-side shuffle.
    * Quantities aggregate in DECIMAL(18,2) (exact, order-free).
    */
  def q231BucketedJoin(s: SparkSession, d: String): DataFrame = {
    val liAgg = lineitem(s, d).groupBy(col("l_partkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty"))
    sink.BucketedStore.writeBucketed(liAgg, "graft_q231_li",
      Seq("l_partkey"), numBuckets = 8, Seq("l_partkey"))
    sink.BucketedStore.writeBucketed(
      part(s, d).select(col("p_partkey"), col("p_brand")),
      "graft_q231_part", Seq("p_partkey"), numBuckets = 8,
      Seq("p_partkey"))
    sink.BucketedStore.read(s, "graft_q231_li")
      .join(sink.BucketedStore.read(s, "graft_q231_part"),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("qty")).cast("double").as("sum_qty"))
      .orderBy(col("p_brand"))
  }

  // ---------------------------------------------------------------- q238
  /** Functional-dependency discovery over `orders`
    * ([[operators.SchemaDiscovery.fdAudit]]): which columns determine
    * which — the cross-column face of the reference's pre-import
    * analyse pass (per-column stats alone cannot tell a loader that
    * `o_orderkey` is a safe auto-create primary key while
    * `o_custkey` is not). Four candidates: the real key
    * (o_orderkey → o_custkey, holds), a reversed key and two
    * categorical cross-checks (all violated, with the violation mass
    * quantified). Each candidate is one two-column pruned scan + a
    * two-level hash aggregation — nothing quadratic, nothing driver-side.
    */
  def q238FdAudit(s: SparkSession, d: String): DataFrame =
    operators.SchemaDiscovery.fdAudit(orders(s, d), Seq(
      "o_orderkey" -> "o_custkey",
      "o_custkey" -> "o_orderstatus",
      "o_orderpriority" -> "o_orderstatus",
      "o_orderstatus" -> "o_orderpriority"))

  // ---------------------------------------------------------------- q239
  /** Inclusion-dependency (foreign-key-candidate) discovery
    * ([[operators.SchemaDiscovery.inclusionAudit]]): which column
    * domains are contained in which — the referential-integrity
    * pre-check an importer runs before enabling FK constraints on a
    * freshly loaded star schema (the reference toggles FKs around
    * bulk load; discovery tells it WHICH FKs are safe to re-enable).
    * Three true FK edges of the star schema plus the deliberate
    * reverse probe (part ⊆ lineitem parts — fails wherever a part was
    * never ordered, quantified in exact ppm). Both sides distinct to
    * their value domains BEFORE a broadcast-able anti-join.
    */
  def q239InclusionAudit(s: SparkSession, d: String): DataFrame = {
    import operators.SchemaDiscovery.IndCandidate
    operators.SchemaDiscovery.inclusionAudit(Seq(
      IndCandidate("lineitem", "l_orderkey", lineitem(s, d),
        "orders", "o_orderkey", orders(s, d)),
      IndCandidate("orders", "o_custkey", orders(s, d),
        "customer", "c_custkey", customer(s, d)),
      IndCandidate("customer", "c_nationkey", customer(s, d),
        "nation", "n_nationkey", nation(s, d)),
      IndCandidate("part", "p_partkey", part(s, d),
        "lineitem", "l_partkey", lineitem(s, d))))
  }

  private[graft] def queriesRelational: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q231_bucketed_join" -> (q231BucketedJoin _),
    "q238_fd_audit" -> (q238FdAudit _),
    "q239_inclusion_audit" -> (q239InclusionAudit _),
    "q01_scan_agg" -> (q01ScanAgg _),
    "q02_join_dims" -> (q02JoinDims _),
    "q03_insert_not_existing_anti" -> (q03AntiJoin _),
    "q04_existence_probe_semi" -> (q04SemiJoin _),
    "q05_drop_duplicates_first" -> (q05DropDuplicatesFirst _),
    "q06_join_duplicates" -> (q06JoinDuplicates _),
    "q07_detect_duplicates" -> (q07DetectDuplicates _),
    "q08_update_all_join" -> (q08UpdateAllJoin _),
    "q09_update_first" -> (q09UpdateFirst _),
    "q10_upsert_pipeline" -> (q10UpsertPipeline _),
    "q11_insert_pipeline" -> (q11InsertPipeline _),
    "q12_arrival_ordinal" -> (q12ArrivalOrdinal _),
    "q13_decimal_formats" -> (q13DecimalFormats _),
    "q14_case_email" -> (q14CaseEmail _),
    "q15_date_chain" -> (q15DateChain _),
    "q16_coercions" -> (q16Coercions _),
    "q17_base64_blob" -> (q17Base64Blob _),
    "q18_infer_types" -> (q18InferTypes _),
    "q41_salted_join" -> (q41SaltedJoin _),
    "q46_bloom_anti" -> (q46BloomAnti _),
    "q49_rollup" -> (q49Rollup _),
    "q50_setops" -> (q50SetOps _),
    "q51_group_topk" -> (q51GroupTopK _),
    "q52_window_analytics" -> (q52WindowAnalytics _),
    "q53_pivot" -> (q53Pivot _),
    "q55_ntile" -> (q55Ntile _),
    "q63_correlation" -> (q63Correlation _),
    "q73_table_checksum" -> (q73TableChecksum _),
    "q74_cube" -> (q74Cube _),
    "q75_distribution_ranks" -> (q75DistributionRanks _),
    "q79_snapshot_diff" -> (q79SnapshotDiff _),
    "q81_incremental_agg" -> (q81IncrementalAgg _),
    "q82_json_extract" -> (q82JsonExtract _),
    "q84_resample_ffill" -> (q84ResampleFfill _),
    "q85_profile" -> (q85Profile _),
    "q86_cdc_apply" -> (q86CdcApply _),
    "q87_zorder" -> (q87ZOrder _),
    "q123_scd2" -> (q123Scd2 _),
    "q172_jdbc_roundtrip" -> (q172JdbcRoundtrip _),
    "q188_constraint_audit" -> (q188ConstraintAudit _),
    "q206_survivor_audit" -> (q206SurvivorAudit _))

  /** One q238 oracle block per FD candidate: replay the two-level
    * aggregation (countDistinct per determinant, then the audit
    * rollup). Sums CAST back to BIGINT — DuckDB widens BIGINT sums to
    * HUGEINT, Spark keeps long.
    */
  private def q238Block(det: String, dep: String): String =
    s"""SELECT '$det' AS determinant, '$dep' AS dependent,
       |  CAST(count(*) AS BIGINT) AS n_groups,
       |  CAST(sum(nd) AS BIGINT) AS n_pairs,
       |  CAST(count(*) FILTER (WHERE nd > 1) AS BIGINT) AS n_violating_groups,
       |  CAST(max(nd) AS BIGINT) AS max_dep_per_group,
       |  (count(*) FILTER (WHERE nd > 1)) = 0 AS holds
       |FROM (SELECT $det AS det, count(DISTINCT $dep) AS nd
       |      FROM orders WHERE $det IS NOT NULL GROUP BY 1)""".stripMargin

  /** One q239 oracle block per IND candidate: distinct child domain,
    * NOT EXISTS against the parent domain, exact-ppm containment.
    */
  private def q239Block(childRel: String, childCol: String,
                        parentRel: String, parentCol: String): String =
    s"""SELECT '$childRel' AS child_rel, '$childCol' AS child_col,
       |  '$parentRel' AS parent_rel, '$parentCol' AS parent_col,
       |  c.n AS n_child_distinct, m.n AS n_missing,
       |  ((c.n - m.n) * 1000000) // c.n AS containment_ppm,
       |  m.n = 0 AS contained
       |FROM (SELECT CAST(count(DISTINCT $childCol) AS BIGINT) AS n
       |      FROM $childRel WHERE $childCol IS NOT NULL) c,
       |  (SELECT CAST(count(*) AS BIGINT) AS n
       |   FROM (SELECT DISTINCT $childCol AS v FROM $childRel
       |         WHERE $childCol IS NOT NULL) cv
       |   WHERE NOT EXISTS (SELECT 1 FROM $parentRel p
       |                     WHERE p.$parentCol = cv.v)) m""".stripMargin

  private[graft] def oracleSqlRelational: Map[String, String] = Map(
    "q238_fd_audit" -> Seq(
      ("o_orderkey", "o_custkey"), ("o_custkey", "o_orderstatus"),
      ("o_orderpriority", "o_orderstatus"), ("o_orderstatus", "o_orderpriority"))
      .map((q238Block _).tupled)
      .mkString("", "\nUNION ALL\n", "\nORDER BY determinant, dependent"),
    "q239_inclusion_audit" -> Seq(
      ("lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("orders", "o_custkey", "customer", "c_custkey"),
      ("customer", "c_nationkey", "nation", "n_nationkey"),
      ("part", "p_partkey", "lineitem", "l_partkey"))
      .map((q239Block _).tupled)
      .mkString("", "\nUNION ALL\n",
        "\nORDER BY child_rel, child_col, parent_rel, parent_col"),
    "q01_scan_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_join_dims" ->
      """SELECT n_name, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1995-01-01'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q03_insert_not_existing_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q04_existence_probe_semi" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q05_drop_duplicates_first" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM (
        | SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
        |  row_number() OVER (PARTITION BY l_orderkey
        |   ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice) AS rn
        | FROM lineitem) WHERE rn = 1 ORDER BY l_orderkey""".stripMargin,
    "q06_join_duplicates" ->
      """WITH src AS (
        | SELECT user_id, event_id,
        |  CASE WHEN event_type = 'click' THEN NULL ELSE value END AS v, props
        | FROM events)
        |SELECT user_id, last_v_incl_null, last_v_non_null, last_props FROM (
        | SELECT user_id,
        |  last_value(v) OVER w AS last_v_incl_null,
        |  last_value(v IGNORE NULLS) OVER w AS last_v_non_null,
        |  last_value(props IGNORE NULLS) OVER w AS last_props,
        |  row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        | FROM src
        | WINDOW w AS (PARTITION BY user_id ORDER BY event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q07_detect_duplicates" ->
      """SELECT count(*) AS dup_keys,
        | CAST(coalesce(sum(dup_count), 0) AS BIGINT) AS dup_rows
        |FROM (SELECT l_orderkey, count(*) AS dup_count FROM lineitem
        |      GROUP BY l_orderkey HAVING count(*) > 1)""".stripMargin,
    "q08_update_all_join" ->
      """WITH staged AS (
        | SELECT o_custkey AS c_custkey,
        |  CASE WHEN max(o_totalprice) < 150000.0 THEN NULL
        |       ELSE max(o_totalprice) END AS new_acctbal
        | FROM orders GROUP BY o_custkey)
        |SELECT c.c_custkey, c.c_name,
        | CASE WHEN s.c_custkey IS NOT NULL
        |      THEN coalesce(s.new_acctbal, c.c_acctbal) ELSE c.c_acctbal END AS c_acctbal,
        | c.c_mktsegment
        |FROM customer c LEFT JOIN staged s ON c.c_custkey = s.c_custkey
        |ORDER BY c.c_custkey""".stripMargin,
    "q09_update_first" ->
      """WITH staged AS (
        | SELECT o_orderkey AS l_orderkey, max(o_totalprice) AS new_qty
        | FROM orders GROUP BY o_orderkey),
        |t AS (
        | SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice, l_quantity,
        |  row_number() OVER (PARTITION BY l_orderkey
        |   ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice) AS rn
        | FROM lineitem)
        |SELECT t.l_orderkey, t.l_linenumber, t.l_partkey, t.l_suppkey, t.l_extendedprice,
        | CASE WHEN t.rn = 1 AND s.l_orderkey IS NOT NULL THEN s.new_qty
        |      ELSE t.l_quantity END AS l_quantity
        |FROM t LEFT JOIN staged s ON t.l_orderkey = s.l_orderkey
        |ORDER BY t.l_orderkey, t.l_linenumber, t.l_partkey, t.l_suppkey, t.l_extendedprice""".stripMargin,
    "q10_upsert_pipeline" ->
      """WITH src AS (
        | SELECT CASE WHEN o_orderkey % 10 = 0 THEN o_custkey + 2000000
        |             ELSE o_custkey END AS c_custkey,
        |  CASE WHEN o_orderstatus = 'F' THEN NULL
        |       ELSE 'cust_' || o_orderpriority END AS c_name,
        |  o_totalprice AS c_acctbal, o_orderkey AS ord
        | FROM orders),
        |staged AS (
        | SELECT c_custkey, c_name, c_acctbal FROM (
        |  SELECT c_custkey,
        |   last_value(c_name IGNORE NULLS) OVER w AS c_name,
        |   last_value(c_acctbal IGNORE NULLS) OVER w AS c_acctbal,
        |   row_number() OVER (PARTITION BY c_custkey ORDER BY ord) AS rn
        |  FROM src
        |  WINDOW w AS (PARTITION BY c_custkey ORDER BY ord
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        | WHERE rn = 1),
        |updated AS (
        | SELECT c.c_custkey,
        |  CASE WHEN s.c_custkey IS NOT NULL THEN coalesce(s.c_name, c.c_name)
        |       ELSE c.c_name END AS c_name,
        |  c.c_nationkey,
        |  CASE WHEN s.c_custkey IS NOT NULL THEN coalesce(s.c_acctbal, c.c_acctbal)
        |       ELSE c.c_acctbal END AS c_acctbal,
        |  c.c_mktsegment
        | FROM customer c LEFT JOIN staged s ON c.c_custkey = s.c_custkey),
        |inserted AS (
        | SELECT s.c_custkey, s.c_name, CAST(NULL AS INTEGER) AS c_nationkey,
        |  s.c_acctbal, CAST(NULL AS VARCHAR) AS c_mktsegment
        | FROM staged s
        | WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = s.c_custkey))
        |SELECT * FROM updated UNION ALL SELECT * FROM inserted ORDER BY c_custkey""".stripMargin,
    "q11_insert_pipeline" ->
      """WITH src AS (
        | SELECT o_custkey % 7000 AS c_custkey, 'new_' || o_orderstatus AS c_name,
        |  o_totalprice AS c_acctbal, o_orderkey AS ord
        | FROM orders),
        |staged AS (
        | SELECT c_custkey, c_name, c_acctbal FROM (
        |  SELECT c_custkey, c_name, c_acctbal,
        |   row_number() OVER (PARTITION BY c_custkey ORDER BY ord) AS rn
        |  FROM src) WHERE rn = 1),
        |survivors AS (
        | SELECT s.c_custkey, s.c_name, s.c_acctbal FROM staged s
        | WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = s.c_custkey))
        |SELECT c_custkey, c_name, c_acctbal FROM customer
        |UNION ALL SELECT c_custkey, c_name, c_acctbal FROM survivors
        |ORDER BY c_custkey, c_name""".stripMargin,
    "q12_arrival_ordinal" ->
      """SELECT o_orderkey, o_custkey,
        | row_number() OVER (ORDER BY o_orderkey) AS import_item
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // q13: the oracle asserts exact numeric round-trip of the formatted
    // strings (p_retailprice is 2dp in the test data).,
    "q13_decimal_formats" ->
      """SELECT p_partkey, p_retailprice AS parsed_dot, p_retailprice AS parsed_comma
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q14_case_email" ->
      """WITH src AS (
        | SELECT c_custkey, c_mktsegment, c_name,
        |  'User.' || c_custkey ||
        |   CASE WHEN c_custkey % 5 = 0 THEN '.Example.COM  '
        |        ELSE '@Example.COM  ' END AS raw
        | FROM customer)
        |SELECT c_custkey, lower(trim(raw)) AS email_clean,
        | regexp_matches(lower(trim(raw)),
        |  '^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$') AS email_valid,
        | lower(c_mktsegment) AS seg_lc, upper(c_name) AS name_uc
        |FROM src ORDER BY c_custkey""".stripMargin,
    // q15: round-trip identity + fixed-offset shift (+02:00 → UTC = -2h).,
    "q15_date_chain" ->
      """SELECT o_orderkey, o_orderdate AS parsed_ts,
        | o_orderdate - INTERVAL 2 HOUR AS shifted_ts
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q16_coercions" ->
      """WITH src AS (
        | SELECT c_custkey, c_mktsegment,
        |  CASE WHEN c_custkey % 4 = 0 THEN 'true' WHEN c_custkey % 4 = 1 THEN 'False'
        |       WHEN c_custkey % 4 = 2 THEN '1' ELSE 'no' END AS bool_str,
        |  CASE WHEN c_custkey % 3 = 0 THEN 'true'
        |       WHEN c_custkey % 3 = 1 THEN c_custkey || '.0'
        |       ELSE CAST(c_custkey AS VARCHAR) END AS int_str,
        |  CASE WHEN c_custkey % 7 = 0 THEN 'NULL' ELSE c_mktsegment END AS token_str
        | FROM customer)
        |SELECT c_custkey,
        | CASE WHEN lower(trim(bool_str)) IN ('true','1','yes','y','j') THEN true
        |      WHEN lower(trim(bool_str)) IN ('false','0','no','n') THEN false
        |      END AS bool_val,
        | CASE WHEN lower(trim(int_str)) = 'true' THEN 1
        |      WHEN lower(trim(int_str)) = 'false' THEN 0
        |      WHEN contains(lower(trim(int_str)), '.')
        |       THEN CAST(CAST(lower(trim(int_str)) AS DOUBLE) AS INTEGER)
        |      ELSE CAST(lower(trim(int_str)) AS INTEGER) END AS int_val,
        | CASE WHEN token_str = 'NULL' THEN NULL ELSE token_str END AS segment_or_null,
        | coalesce(CASE WHEN token_str = 'NULL' THEN NULL ELSE token_str END, '')
        |  AS segment_repaired
        |FROM src ORDER BY c_custkey""".stripMargin,
    "q17_base64_blob" ->
      """SELECT doc_id, hex(encode(substr(text, 1, 64))) AS blob_out
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q18_infer_types" ->
      """WITH src AS (
        | SELECT CAST(o_orderkey AS VARCHAR) AS c1, CAST(o_totalprice AS VARCHAR) AS c2,
        |  strftime(o_orderdate, '%d.%m.%Y') AS c3,
        |  CASE WHEN o_orderstatus = 'F' THEN 'true' ELSE 'false' END AS c4,
        |  o_orderpriority AS c5,
        |  CAST(o_orderkey * 1000000000 AS VARCHAR) AS c6,
        |  strftime(o_orderdate, '%d.%m.%Y %H:%M:%S') AS c7
        | FROM orders),
        |lng AS (SELECT column_name, trim(v) AS v FROM src
        |        UNPIVOT (v FOR column_name IN (c1, c2, c3, c4, c5, c6, c7))),
        |st AS (SELECT column_name,
        |  bool_and(regexp_matches(v, '(^\d{2}\.\d{2}\.\d{4}$)|(^\d{4}-\d{2}-\d{2}$)')) AS all_date,
        |  bool_and(regexp_matches(v, '(^\d{2}\.\d{2}\.\d{4} \d{2}:\d{2}:\d{2}$)|(^\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}$)')) AS all_datetime,
        |  bool_and(regexp_matches(v, '^[+-]?\d{1,9}$')) AS all_int,
        |  bool_and(regexp_matches(v, '^[+-]?\d{1,18}$')) AS all_bigint,
        |  bool_and(regexp_matches(v, '^[+-]?(\d+([.]\d*)?|[.]\d+)([eE][+-]?\d+)?$'))
        |   AND max(length(v)) <= 20 AS all_double,
        |  bool_and(regexp_matches(v, '^(true|false)$')) AS all_bool,
        |  max(strlen(v)) AS maxbytes
        | FROM lng GROUP BY column_name),
        |sel AS (SELECT column_name,
        |  CASE WHEN all_date THEN 'DATE' WHEN all_datetime THEN 'TIMESTAMP'
        |       WHEN all_int THEN 'INTEGER' WHEN all_bigint THEN 'BIGINT'
        |       WHEN all_double THEN 'DOUBLE' WHEN all_bool THEN 'BOOLEAN'
        |       WHEN maxbytes > 4000 THEN 'BLOB' ELSE 'VARCHAR' END AS data_type,
        |  maxbytes FROM st)
        |SELECT column_name, data_type,
        | CAST(CASE WHEN data_type = 'VARCHAR' THEN maxbytes ELSE 0 END AS BIGINT) AS data_size
        |FROM sel ORDER BY column_name""".stripMargin,
    "q41_salted_join" ->
      """WITH fact AS (SELECT
        |  CASE WHEN l_orderkey % 10 < 7 THEN 0 ELSE l_orderkey % 997 END AS skew_key,
        |  l_quantity FROM lineitem),
        |dim AS (SELECT DISTINCT o_orderkey % 997 AS skew_key FROM orders),
        |dim2 AS (SELECT skew_key, skew_key % 5 AS bucket_mod FROM dim)
        |SELECT bucket_mod, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM fact JOIN dim2 USING (skew_key)
        |GROUP BY bucket_mod ORDER BY bucket_mod""".stripMargin,
    "q46_bloom_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderdate >= '1998-01-01')
        |ORDER BY c_custkey""".stripMargin,
    "q49_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
        | coalesce(l_linestatus, 'ALL') AS l_linestatus,
        | count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q50_setops" ->
      """WITH a AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders
        |  WHERE o_orderdate >= '1995-01-01' AND o_orderdate < '1996-01-01'),
        |b AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders
        |  WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01')
        |SELECT 'both_years' AS op, c_custkey FROM (SELECT c_custkey FROM a
        |  INTERSECT SELECT c_custkey FROM b)
        |UNION ALL
        |SELECT 'only_1995' AS op, c_custkey FROM (SELECT c_custkey FROM a
        |  EXCEPT SELECT c_custkey FROM b)
        |ORDER BY op, c_custkey""".stripMargin,
    "q51_group_topk" ->
      """SELECT o_orderpriority, rank, o_orderkey, o_totalprice FROM (
        | SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rank
        | FROM orders)
        |WHERE rank <= 3 ORDER BY o_orderpriority, rank""".stripMargin,
    "q52_window_analytics" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts_utc,
        |  value FROM events)
        |SELECT user_id, event_id, ts_utc, value,
        | lag(value, 1) OVER w AS prev_value,
        | CAST(sum(CAST(value AS DECIMAL(18,6)))
        |   OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS DOUBLE) AS running_sum,
        | CAST(sum(CAST(value AS DECIMAL(18,6)))
        |   OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |   AS DOUBLE) AS moving3_sum
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_utc, event_id)
        |ORDER BY user_id, ts_utc, event_id""".stripMargin,
    "q53_pivot" ->
      """SELECT n_name,
        | CAST(sum(CASE WHEN o_orderstatus = 'F'
        |   THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "F",
        | CAST(sum(CASE WHEN o_orderstatus = 'O'
        |   THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "O",
        | CAST(sum(CASE WHEN o_orderstatus = 'P'
        |   THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "P"
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q55_ntile" ->
      """WITH t AS (SELECT c_acctbal,
        |  ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
        | FROM customer)
        |SELECT decile, count(*) AS n, min(c_acctbal) AS min_bal,
        | max(c_acctbal) AS max_bal,
        | CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |   AS avg_bal
        |FROM t GROUP BY decile ORDER BY decile""".stripMargin,
    "q63_correlation" ->
      """WITH j AS (SELECT c_mktsegment,
        |  CAST(o_totalprice AS DECIMAL(18,2)) AS x,
        |  CAST(c_acctbal AS DECIMAL(18,2)) AS y
        | FROM orders JOIN customer ON o_custkey = c_custkey),
        |m AS (SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |  CAST(sum(x * x) AS DOUBLE) AS sxx, CAST(sum(y * y) AS DOUBLE) AS syy,
        |  CAST(sum(x * y) AS DOUBLE) AS sxy
        | FROM j GROUP BY c_mktsegment)
        |SELECT c_mktsegment, n,
        | round((CAST(n AS DOUBLE) * sxy - sx * sy) /
        |   (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) *
        |    sqrt(CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS corr_price_bal,
        | sx / CAST(n AS DOUBLE) AS avg_price
        |FROM m ORDER BY c_mktsegment""".stripMargin,
    "q73_table_checksum" -> {
      // mirrors TableChecksum.rowHash canonicalization: <charlen>:<value>
      def canon(e: String): String =
        s"(CAST(length(CAST($e AS VARCHAR)) AS VARCHAR) || ':' || CAST($e AS VARCHAR))"
      s"""WITH h AS (SELECT l_returnflag,
        |  CAST(('0x' || substr(md5(
        |    ${canon("l_orderkey")} || '|' || ${canon("l_partkey")} || '|' ||
        |    ${canon("l_suppkey")} || '|' || ${canon("l_linenumber")} || '|' ||
        |    ${canon("l_returnflag")} || '|' || ${canon("l_linestatus")}), 1, 12)) AS BIGINT) AS h
        | FROM lineitem)
        |SELECT l_returnflag, count(*) AS n_rows, bit_xor(h) AS xor_checksum,
        | CAST(sum(CAST(h AS DECIMAL(38,0))) % 1000000007 AS BIGINT) AS sum_checksum
        |FROM h GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    },
    "q74_cube" ->
      """SELECT coalesce(c_mktsegment, 'ALL') AS mktsegment,
        | coalesce(n_name, 'ALL') AS nation,
        | count(*) AS n_cust,
        | CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY CUBE(c_mktsegment, n_name)
        |ORDER BY mktsegment, nation""".stripMargin,
    "q75_distribution_ranks" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        | round(percent_rank() OVER w, 6) AS pr,
        | round(cume_dist() OVER w, 6) AS cd
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal)
        |ORDER BY c_custkey""".stripMargin,
    "q79_snapshot_diff" ->
      """WITH old AS (SELECT o_orderkey AS k, o_custkey AS c,
        |  o_orderstatus AS s, o_orderpriority AS p FROM orders),
        |neu AS (
        | SELECT o_orderkey AS k, o_custkey AS c,
        |  CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END AS s,
        |  o_orderpriority AS p
        | FROM orders WHERE o_orderkey % 13 <> 0
        | UNION ALL
        | SELECT o_orderkey + 1000000000 AS k, o_custkey AS c,
        |  o_orderstatus AS s, o_orderpriority AS p
        | FROM orders WHERE o_orderkey % 11 = 0)
        |SELECT coalesce(o.k, n.k) AS o_orderkey,
        | CASE WHEN o.k IS NULL THEN 'added'
        |      WHEN n.k IS NULL THEN 'removed'
        |      WHEN o.c <> n.c OR o.s <> n.s OR o.p <> n.p THEN 'changed'
        | END AS change_type
        |FROM old o FULL JOIN neu n ON o.k = n.k
        |WHERE (o.k IS NULL OR n.k IS NULL
        |       OR o.c <> n.c OR o.s <> n.s OR o.p <> n.p)
        |ORDER BY o_orderkey""".stripMargin,
    "q81_incremental_agg" ->
      """SELECT o_custkey, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "q82_json_extract" ->
      """WITH e AS (SELECT event_type,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events)
        |SELECT event_type, count(*) AS n, min(k) AS min_k, max(k) AS max_k,
        | CAST(sum(k) AS BIGINT) AS sum_k
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q84_resample_ffill" ->
      """WITH ev AS (SELECT user_id,
        |  CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us, value
        | FROM events WHERE user_id < 8),
        |h AS (SELECT user_id, us - (us % 3600000000) AS hour_us,
        |  count(*) AS n_events,
        |  sum(CAST(value AS DECIMAL(18,2))) AS sum_value
        | FROM ev GROUP BY 1, 2),
        |g AS (SELECT user_id,
        |  unnest(generate_series(min(hour_us), max(hour_us), 3600000000)) AS hour_us
        | FROM h GROUP BY user_id)
        |SELECT g.user_id, g.hour_us,
        | coalesce(h.n_events, 0) AS n_events,
        | CAST(last_value(h.sum_value IGNORE NULLS) OVER
        |   (PARTITION BY g.user_id ORDER BY g.hour_us
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |  AS ffill_value
        |FROM g LEFT JOIN h ON h.user_id = g.user_id AND h.hour_us = g.hour_us
        |ORDER BY g.user_id, g.hour_us""".stripMargin,
    "q85_profile" ->
      """WITH c AS (SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
        |  CAST(c_acctbal AS DECIMAL(18,2)) AS c_acctbal FROM customer),
        |p AS (
        | SELECT 'c_custkey' AS column_name, count(*) AS n_rows,
        |  count(c_custkey) AS n_nonnull, count(DISTINCT c_custkey) AS ndv,
        |  CAST(min(c_custkey) AS VARCHAR) AS min_s,
        |  CAST(max(c_custkey) AS VARCHAR) AS max_s FROM c
        | UNION ALL
        | SELECT 'c_name', count(*), count(c_name), count(DISTINCT c_name),
        |  CAST(min(c_name) AS VARCHAR), CAST(max(c_name) AS VARCHAR) FROM c
        | UNION ALL
        | SELECT 'c_nationkey', count(*), count(c_nationkey),
        |  count(DISTINCT c_nationkey),
        |  CAST(min(c_nationkey) AS VARCHAR), CAST(max(c_nationkey) AS VARCHAR) FROM c
        | UNION ALL
        | SELECT 'c_mktsegment', count(*), count(c_mktsegment),
        |  count(DISTINCT c_mktsegment),
        |  CAST(min(c_mktsegment) AS VARCHAR), CAST(max(c_mktsegment) AS VARCHAR) FROM c
        | UNION ALL
        | SELECT 'c_acctbal', count(*), count(c_acctbal),
        |  count(DISTINCT c_acctbal),
        |  CAST(min(c_acctbal) AS VARCHAR), CAST(max(c_acctbal) AS VARCHAR) FROM c)
        |SELECT * FROM p ORDER BY column_name""".stripMargin,
    "q86_cdc_apply" ->
      """SELECT o_orderkey,
        | CASE WHEN o_orderkey % 3 = 0 THEN 'U' ELSE o_orderstatus END AS status,
        | o_custkey
        |FROM orders WHERE o_orderkey % 5 <> 0
        |ORDER BY o_orderkey""".stripMargin,
    "q87_zorder" ->
      """WITH b AS (SELECT l_partkey % 1024 AS p, l_suppkey % 1024 AS sk FROM lineitem),
        |s0 AS (SELECT p, sk, p & 2097151 AS xa, sk & 2097151 AS xb FROM b),
        |s1 AS (SELECT p, sk, (xa | (xa << 16)) & 281470681808895 AS xa,
        |  (xb | (xb << 16)) & 281470681808895 AS xb FROM s0),
        |s2 AS (SELECT p, sk, (xa | (xa << 8)) & 71777214294589695 AS xa,
        |  (xb | (xb << 8)) & 71777214294589695 AS xb FROM s1),
        |s3 AS (SELECT p, sk, (xa | (xa << 4)) & 1085102592571150095 AS xa,
        |  (xb | (xb << 4)) & 1085102592571150095 AS xb FROM s2),
        |s4 AS (SELECT p, sk, (xa | (xa << 2)) & 3689348814741910323 AS xa,
        |  (xb | (xb << 2)) & 3689348814741910323 AS xb FROM s3),
        |s5 AS (SELECT p, sk, (xa | (xa << 1)) & 6148914691236517205 AS xa,
        |  (xb | (xb << 1)) & 6148914691236517205 AS xb FROM s4),
        |z AS (SELECT p, sk, (xa | (xb << 1)) >> 12 AS zbin FROM s5)
        |SELECT zbin, count(*) AS n, min(p) AS min_p, max(p) AS max_p,
        | min(sk) AS min_s, max(sk) AS max_s
        |FROM z GROUP BY zbin ORDER BY zbin""".stripMargin,
    "q123_scd2" ->
      """WITH ev AS (SELECT user_id, event_id,
        |  CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us, event_type
        | FROM events),
        |ch AS (SELECT user_id, event_id, us, event_type FROM (
        |  SELECT user_id, event_id, us, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |      AS prev
        |  FROM ev) WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, CAST(row_number() OVER w AS BIGINT) AS version_no,
        |  event_type, us AS valid_from_us,
        |  coalesce(lead(us) OVER w, 253402300799000000) AS valid_to_us
        |FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |ORDER BY user_id, version_no""".stripMargin,
    "q172_jdbc_roundtrip" ->
      // replay the sink merge relationally: base insert (keys <= 50),
      // then a keyed upsert of the delta (26..60, bal doubled — exact
      // in IEEE) — delta wins on overlap, new delta keys insert
      """WITH base AS (
        |  SELECT c_custkey AS id, c_name AS name, c_acctbal AS bal
        |  FROM customer WHERE c_custkey <= 50),
        |delta AS (
        |  SELECT c_custkey AS id, c_name AS name, c_acctbal * 2 AS bal
        |  FROM customer WHERE c_custkey BETWEEN 26 AND 60)
        |SELECT coalesce(d.id, b.id) AS id,
        |  coalesce(d.name, b.name) AS name,
        |  coalesce(d.bal, b.bal) AS bal
        |FROM base b FULL JOIN delta d ON b.id = d.id
        |ORDER BY 1""".stripMargin,
    "q188_constraint_audit" ->
      """WITH r AS (
        | SELECT 'customer_custkey_not_null' AS constraint_name,
        |  'customer' AS table_name, count(*) AS n_checked,
        |  CAST(coalesce(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) AS n_violations FROM customer
        | UNION ALL
        | SELECT 'customer_custkey_unique', 'customer',
        |  CAST(sum(n) AS BIGINT), CAST(sum(n - 1) AS BIGINT)
        | FROM (SELECT count(*) AS n FROM customer GROUP BY c_custkey)
        | UNION ALL
        | SELECT 'customer_acctbal_range', 'customer', count(*),
        |  CAST(coalesce(sum(CASE WHEN c_acctbal IS NOT NULL AND
        |    (c_acctbal < -1000.0 OR c_acctbal > 10000.0) THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) FROM customer
        | UNION ALL
        | SELECT 'customer_mktsegment_domain', 'customer', count(*),
        |  CAST(coalesce(sum(CASE WHEN c_mktsegment IS NOT NULL AND
        |    c_mktsegment NOT IN ('AUTOMOBILE','BUILDING','FURNITURE',
        |      'HOUSEHOLD','MACHINERY') THEN 1 ELSE 0 END), 0) AS BIGINT)
        | FROM customer
        | UNION ALL
        | SELECT 'orders_custkey_ref_customer', 'orders',
        |  (SELECT count(*) FROM orders),
        |  (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        | UNION ALL
        | SELECT 'lineitem_orderkey_ref_orders', 'lineitem',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        | UNION ALL
        | SELECT 'orders_totalprice_range', 'orders', count(*),
        |  CAST(coalesce(sum(CASE WHEN o_totalprice IS NOT NULL AND
        |    (o_totalprice < 1.0 OR o_totalprice > 1000000.0) THEN 1 ELSE 0
        |    END), 0) AS BIGINT) FROM orders)
        |SELECT constraint_name, table_name, n_checked, n_violations,
        | n_violations = 0 AS passed
        |FROM r ORDER BY constraint_name""".stripMargin,
    "q206_survivor_audit" ->
      // q104's survivor election replayed, then the pair set
      // semi-checked from both ends: intra-cluster pairs keep one
      // member, so zero residual pairs is the exact invariant
      s"""WITH RECURSIVE $SqlCorpus,
         |$SqlShingles3,
         |n AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
         |com AS (SELECT x.doc_id AS id1, y.doc_id AS id2, count(*) AS common
         | FROM s x JOIN s y ON x.sh = y.sh AND x.doc_id < y.doc_id GROUP BY 1, 2),
         |pair AS (SELECT com.id1, com.id2 FROM com
         | JOIN n n1 ON n1.doc_id = com.id1 JOIN n n2 ON n2.doc_id = com.id2
         | WHERE CAST(com.common AS DOUBLE)
         |   / CAST(n1.n + n2.n - com.common AS DOUBLE) >= 0.6),
         |edge AS (SELECT id1 AS a, id2 AS b FROM pair
         | UNION SELECT id2 AS a, id1 AS b FROM pair),
         |reach(src, dst) AS (
         | SELECT a, a FROM edge
         | UNION
         | SELECT r.src, e.b FROM reach r JOIN edge e ON e.a = r.dst),
         |lab AS (SELECT src AS doc_id, min(dst) AS cluster_id
         |        FROM reach GROUP BY src),
         |qual AS (SELECT c.doc_id,
         | least(CAST(len(t.toks) AS DOUBLE) / 100.0, 1.0) * 0.5
         | + (1.0 - (CASE WHEN length(c.text) = 0 THEN 0.0
         |    ELSE CAST(length(c.text) - length(regexp_replace(c.text,
         |           '[.,;:!?''"()\\[\\]{}-]', '', 'g')) AS DOUBLE)
         |         / CAST(length(c.text) AS DOUBLE) END)) * 0.25
         | + (CASE WHEN len(t.toks) = 0 THEN 0.0
         |    ELSE CAST(len(list_filter(t.toks, x -> x IN
         |           ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE)
         |         / CAST(len(t.toks) AS DOUBLE) END) * 0.25 AS quality
         | FROM corpus c JOIN tok t ON t.doc_id = c.doc_id),
         |m AS (SELECT q.doc_id, coalesce(l.cluster_id, q.doc_id) AS cluster_id,
         |        q.quality
         |      FROM qual q LEFT JOIN lab l ON l.doc_id = q.doc_id),
         |surv AS (SELECT doc_id FROM (SELECT doc_id,
         |        row_number() OVER (PARTITION BY cluster_id
         |                           ORDER BY quality DESC, doc_id) AS rk
         |      FROM m) WHERE rk = 1),
         |resid AS (SELECT count(*) AS n_residual_pairs FROM pair
         |  WHERE EXISTS (SELECT 1 FROM surv WHERE doc_id = pair.id1)
         |    AND EXISTS (SELECT 1 FROM surv WHERE doc_id = pair.id2))
         |SELECT (SELECT count(*) FROM surv) AS n_survivors,
         | CAST(n_residual_pairs AS BIGINT) AS n_residual_pairs,
         | n_residual_pairs = 0 AS invariant_holds
         |FROM resid""".stripMargin,
    "q231_bucketed_join" ->
      // the bucketing is plan-side only — results must equal the plain
      // join (DuckDB has no notion of the buckets)
      """WITH liagg AS (SELECT l_partkey,
        |   sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        | FROM lineitem GROUP BY 1)
        |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts,
        | CAST(sum(qty) AS DOUBLE) AS sum_qty
        |FROM liagg JOIN part ON p_partkey = l_partkey
        |GROUP BY 1 ORDER BY p_brand""".stripMargin)
}
