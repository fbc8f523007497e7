package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.charset.Charset
import java.nio.file.Files
import graft.expr.Exprs
import graft.io.{Sinks, Sources}
import graft.ops.Ops
import graft.profile.Profile
import graft.quality.Quality
import graft.util.Residency

/** SURVEY.md §2 operator inventory as named, DuckDB-oracle-checked queries.
  *
  * Contract (driver): for every key here, `oracle` holds ANSI SQL DuckDB
  * runs over the same parquet tables; the driver sorts columns by name and
  * hash-compares the row sets. Hence every query is row-set deterministic,
  * column names match the SQL aliases exactly, and floating aggregates are
  * rounded identically on both sides. */
object RelationalQueries {
  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Fixed per-query scratch dir: repeated bench/verify iterations
    * overwrite instead of accumulating tempdirs. */
  private def tmpDir(prefix: String): String = {
    val d = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), s"graft_scratch_$prefix")
    Files.createDirectories(d)
    d.toString
  }

  private val derbyProps = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
  /** Fixed per-query in-memory Derby DB, reused across invocations (the
    * full-refresh sink truncates); a nanoTime-keyed name here would leak one
    * whole in-memory database per bench iteration. */
  private def derbyUrl(name: String): String = {
    // keep derby.log out of the repo
    System.setProperty("derby.system.home", System.getProperty("java.io.tmpdir"))
    s"jdbc:derby:memory:graft_$name;create=true"
  }

  // ---------------------------------------------------------------- sources
  /** S1: xlsx scan (dag1.py:24) — write a workbook from the nation dim,
    * read it back through the SpreadsheetML reader, promote the header row
    * (R4) and type the columns, mirroring the reference's sheet surgery. */
  private val s1XlsxScan: Q = (s, dir) => {
    val rows = t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
      .orderBy("n_nationkey").collect()  // 25-row dim: driver-side file synth
    val f = java.nio.file.Paths.get(tmpDir("s1"), "nation.xlsx")
    graft.io.Xlsx.write(f.toString,
      Seq[Seq[Any]](Seq("n_nationkey", "n_name", "n_regionkey")) ++
        rows.map(r => Seq[Any](r.getInt(0), r.getString(1), r.getInt(2))))
    val promoted = Ops.promoteHeader(graft.io.Xlsx.read(s, f.toString), "__idx")
    promoted.drop("__idx")
      .select(col("n_nationkey").cast(IntegerType), col("n_name"),
        col("n_regionkey").cast(IntegerType))
  }

  /** S7 (+K): XML round-trip through Spark 4's NATIVE xml datasource —
    * write nation as `<nation>` row elements, read back with rowTag +
    * inference. Extends the source tier beyond the reference's formats
    * the same way ORC/JSON round-trips do. */
  private val s7XmlScan: Q = (s, dir) => {
    val out = tmpDir("graft_s7")
    Sinks.xml(t(s, dir, "nation"), s"$out/nation_xml", rowTag = "nation")
    Sources.xml(s, s"$out/nation_xml", rowTag = "nation")
      .select(col("n_nationkey").cast(IntegerType), col("n_name"),
        col("n_regionkey").cast(IntegerType))
  }

  /** S2 (+K1): CSV round-trip with header + schema inference (dag1.py:45,50). */
  private val s2CsvScan: Q = (s, dir) => {
    val out = tmpDir("graft_s2")
    Sinks.csv(t(s, dir, "nation"), s"$out/nation", coalesce = 1)
    Sources.csv(s, s"$out/nation")
      .select(col("n_nationkey").cast(IntegerType), col("n_name"),
        col("n_regionkey").cast(IntegerType))
  }

  /** S3: charset sniff (chardet analog, dag1.py:54-58) — the file is
    * windows-1252 with a 0x96 en-dash, invalid as UTF-8. */
  private val s3CsvCharset: Q = (s, dir) => {
    val rows = t(s, dir, "nation").select("n_nationkey", "n_name")
      .orderBy("n_nationkey").collect()  // 25-row dim: driver-side file synth
    val f = java.nio.file.Paths.get(tmpDir("s3"), "s3.csv")
    val body = "n_nationkey,tagged_name\n" + rows.map { r =>
      s"${r.getInt(0)},${r.getString(1)}–"
    }.mkString("\n")
    Files.write(f, body.getBytes(Charset.forName("windows-1252")))
    Sources.csvDetect(s, f.toString)
      .select(col("n_nationkey").cast(IntegerType), col("tagged_name"))
  }

  /** S4: JSON table decode re-infers dtypes (the XCom analog,
    * dag1.py:65-68) — ints widen to long, as pandas read_json does. */
  private val s4JsonTable: Q = (s, dir) => {
    val json = t(s, dir, "nation").toJSON
    Sources.jsonTable(s, json)
      .select("n_nationkey", "n_name", "n_regionkey")
  }

  /** S5 (+K2/K3): JDBC scan after a full-refresh load into embedded Derby
    * (profiling.py:33-38 / dag1.py:272-287). */
  private val s5JdbcScan: Q = (s, dir) => {
    val url = derbyUrl("s5")
    Sinks.jdbcFullRefresh(t(s, dir, "supplier"), url, "SUPPLIER", derbyProps,
      Some("s_name VARCHAR(64)"))
    Sources.jdbc(s, url, "SUPPLIER", derbyProps)
      .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
  }

  /** S6: JDBC scan with limit (the serving API's LIMIT n, api.py:24),
    * deterministic via an explicit key order. */
  private val s6JdbcLimit: Q = (s, dir) => {
    val url = derbyUrl("s6")
    Sinks.jdbcFullRefresh(t(s, dir, "region"), url, "REGION", derbyProps,
      Some("r_name VARCHAR(64)"))
    Sources.jdbc(s, url, "REGION", derbyProps)
      .orderBy("r_regionkey").limit(3)
      .select("r_regionkey", "r_name")
  }

  // ------------------------------------------------------------------ sinks
  /** K1: CSV sink + re-scan round-trip over a fact-sized table
    * (dag1.py:199-209). Distributed write (no coalesce). */
  private val k1CsvRoundtrip: Q = (s, dir) => {
    val out = tmpDir("graft_k1")
    Sinks.csv(t(s, dir, "customer"), s"$out/customer")
    Sources.csv(s, s"$out/customer")
      .select(col("c_custkey").cast(LongType), col("c_name"),
        col("c_nationkey").cast(IntegerType), col("c_acctbal").cast(DoubleType),
        col("c_mktsegment"))
  }

  /** K2/F11: DDL synthesis from the inferred schema (dag1.py:216-226,
    * 261-270), exposed as (column, ddl_type) rows. */
  private val k2DdlSynthesis: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "orders").schema.fields
      .map(f => (f.name, Exprs.ddlType(f.dataType))).toSeq
      .toDF("col_name", "ddl_type")
  }

  /** K3: truncate-and-reload semantics — the second write must replace,
    * not append (dag1.py:272-287). */
  private val k3FullRefresh: Q = (s, dir) => {
    val url = derbyUrl("k3")
    val region = t(s, dir, "region")
    Sinks.jdbcFullRefresh(region, url, "REGION", derbyProps, Some("r_name VARCHAR(64)"))
    Sinks.jdbcFullRefresh(region, url, "REGION", derbyProps, Some("r_name VARCHAR(64)"))
    Sources.jdbc(s, url, "REGION", derbyProps).select("r_regionkey", "r_name")
  }

  /** K6: ORC round-trip — the other splittable columnar format Spark
    * ships; same pushdown/pruning properties as parquet. */
  private val k6OrcRoundtrip: Q = (s, dir) => {
    val out = tmpDir("k6")
    t(s, dir, "supplier").write.mode("overwrite").orc(s"$out/supplier")
    s.read.orc(s"$out/supplier")
      .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
  }

  /** K7*: partition-pruned scan — facts written `partitionBy(status)`, so
    * an equality filter on the partition column prunes whole directories
    * at planning time (visible as the scan's PartitionFilters). This is
    * the mechanism that lets a 100 TB fact table be read selectively;
    * SinksSpec asserts the pruning on the physical plan. */
  private val k7PartitionedScan: Q = (s, dir) => {
    val out = tmpDir("k7")
    t(s, dir, "orders").write.mode("overwrite")
      .partitionBy("o_orderstatus").parquet(s"$out/orders_by_status")
    s.read.parquet(s"$out/orders_by_status")
      .filter(col("o_orderstatus") === "O")
      .select(col("o_orderkey"), col("o_totalprice"))
  }

  /** K12: PARTITION-PRESERVING compaction ([[Sinks.compactLayoutInPlace]])
    * — the lake-maintenance op stored index layouts depend on: the facts
    * are written `partitionBy(status)` with 8 small files per partition
    * (the streaming-append pathology), compacted in place down to one
    * file per partition with the `key=value` dirs — and therefore
    * partition pruning — preserved (SinksSpec re-runs the pruning plan
    * audit post-compaction), and the per-partition counts and key sums
    * read back from the compacted layout hash-check against the source
    * table: nothing lost, nothing duplicated, partitioning intact. */
  private val k12CompactLayout: Q = (s, dir) => {
    val out = tmpDir("k12")
    t(s, dir, "orders").repartition(8).write.mode("overwrite")
      .partitionBy("o_orderstatus").parquet(s"$out/orders_by_status")
    Sinks.compactLayoutInPlace(s, s"$out/orders_by_status",
        Seq("o_orderstatus"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
  }

  /** K4 + PR1/PR2: single-pass profile → HTML report sink
    * (profiling.py:50-54); the count/missing/distinct stats double as the
    * oracle-checked surface. */
  private val k4ProfileSink: Q = (s, dir) => {
    import s.implicits._
    val p = Profile.profile(t(s, dir, "region"), "region", exact = true)
    Profile.writeHtml(p, s"${tmpDir("graft_k4")}/region_report.html")
    p.profiles.map(c => (c.name, c.count, c.missing, c.distinct)).toSeq
      .toDF("col_name", "cnt", "missing", "n_distinct")
  }

  // ------------------------------------------------------- row-slicing ops
  /** R1: skip leading rows under an explicit order (dag1.py:26). */
  private val r1SkipLeading: Q = (s, dir) =>
    Ops.dropLeading(t(s, dir, "nation"), 2, Seq(col("n_nationkey")))
      .select("n_nationkey", "n_name", "n_regionkey")

  /** R2: drop trailing/footer rows (dag1.py:38,46). */
  private val r2FooterDrop: Q = (s, dir) =>
    Ops.dropTrailing(t(s, dir, "nation"), 2, Seq(col("n_nationkey")))
      .select("n_nationkey", "n_name", "n_regionkey")

  /** R3: drop column (dag1.py:28,115). */
  private val r3DropColumn: Q = (s, dir) =>
    t(s, dir, "nation").drop("n_regionkey")

  /** R4: promote first row to header (dag1.py:30-32). */
  private val r4HeaderPromote: Q = (s, dir) => {
    import s.implicits._
    val data = t(s, dir, "region").select(
      (col("r_regionkey") + 1).cast(LongType).as("__idx"),
      col("r_regionkey").cast(StringType).as("_c0"),
      col("r_name").as("_c1"))
    val header = Seq((0L, "key", "name")).toDF("__idx", "_c0", "_c1")
    Ops.promoteHeader(header.unionByName(data), "__idx").drop("__idx")
  }

  // ------------------------------------------------ projection/rename/filter
  /** P1: column subset projection (dag1.py:86-89 etc). */
  private val p1Projection: Q = (s, dir) =>
    t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice")

  /** P2: rename columns (dag1.py:36-37,95 etc). */
  private val p2Rename: Q = (s, dir) =>
    t(s, dir, "orders")
      .withColumnRenamed("o_totalprice", "total_price")
      .withColumnRenamed("o_orderstatus", "status")
      .select("o_orderkey", "total_price", "status")

  /** P3: normalize all column names (space/dot → underscore, literal;
    * dag1.py:247-248). */
  private val p3NormalizeColumns: Q = (s, dir) => {
    val weird = t(s, dir, "nation")
      .withColumnRenamed("n_name", " n name ")
      .withColumnRenamed("n_regionkey", "n.regionkey")
    Ops.normalizeColumns(weird)
  }

  /** P4: predicate filter (dag1.py:103,137 implicit). */
  private val p4Filter: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")

  // ------------------------------------------------------------ scalar fns
  /** F1: zero-pad FIPS-style key (dag1.py:39-40). */
  private val f1FipsPad: Q = (s, dir) =>
    t(s, dir, "nation").select(col("n_nationkey"),
      Exprs.fipsPad(col("n_nationkey")).as("fips"))

  /** F2: currency string → double (dag1.py:88): format to "$1,234.56" then
    * parse back. */
  private val f2CurrencyParse: Q = (s, dir) =>
    t(s, dir, "orders").select(col("o_orderkey"),
      Exprs.moneyToDouble(concat(lit("$"), format_number(col("o_totalprice"), 2)))
        .as("parsed_price"))

  /** F3: lenient cast — "(NA)" → null (dag1.py:103,118). */
  private val f3LenientCast: Q = (s, dir) =>
    t(s, dir, "orders").select(col("o_orderkey"),
      Exprs.tryDouble(
        when(col("o_orderkey") % 10 === 0, lit("(NA)"))
          .otherwise(col("o_totalprice").cast(StringType)))
        .as("lenient_price"))

  /** F4: strip embedded quotes (dag1.py:98). */
  private val f4StripQuotes: Q = (s, dir) =>
    t(s, dir, "nation").select(col("n_nationkey"),
      Exprs.stripQuotes(concat(lit("\""), col("n_name"), lit("\""))).as("unquoted"))

  /** F5: trim whitespace (dag1.py:106,109). */
  private val f5Trim: Q = (s, dir) =>
    t(s, dir, "nation").select(col("n_nationkey"),
      trim(concat(lit("  "), col("n_name"), lit("  "))).as("trimmed"))

  /** F6: remove literal char — '*' (dag1.py:117). */
  private val f6StripChars: Q = (s, dir) =>
    t(s, dir, "nation").select(col("n_nationkey"),
      Exprs.stripChars(concat(col("n_name"), lit("*")), "*").as("cleaned"))

  /** F7: arithmetic scale ×1e6 (dag1.py:103). */
  private val f7Scale: Q = (s, dir) =>
    t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
      (col("l_extendedprice") * lit(1e6)).as("price_scaled"))

  /** F8+A2: ratio with 0/0→NaN→null, then a NaN-skipping mean — the
    * inflation-multiplier trap (dag1.py:153,164). */
  private val f8RatioNanMean: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    val zero = col("l_orderkey") % 7 === 0
    li.select(col("l_returnflag"),
        Exprs.ratioNanNull(
          when(zero, lit(0.0)).otherwise(col("l_discount")),
          when(zero, lit(0.0)).otherwise(col("l_quantity"))).as("ratio"))
      .groupBy("l_returnflag")
      .agg(round(avg(col("ratio")), 6).as("mean_ratio"))
  }

  /** F9: strict int cast (dag1.py:110). */
  private val f9IntCast: Q = (s, dir) =>
    t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
      col("l_quantity").cast(IntegerType).as("qty_int"))

  /** F10: coalesce backfill after an outer join (dag1.py:113). */
  private val f10Coalesce: Q = (s, dir) => {
    val n = t(s, dir, "nation").filter(col("n_regionkey") < 2)
      .select(col("n_nationkey"), col("n_name"))
    val c = t(s, dir, "customer").select(col("c_nationkey")).distinct()
    c.join(n, c("c_nationkey") === n("n_nationkey"), "left")
      .select(col("c_nationkey"), coalesce(col("n_name"), lit("UNKNOWN")).as("name"))
  }

  // --------------------------------------------------------------- reshape
  /** W1: unpivot/melt, unemployment shape (dag1.py:82) — wide per-year
    * columns back to long rows. */
  private val w1UnpivotOrders: Q = (s, dir) => {
    val wide = t(s, dir, "orders")
      .groupBy("o_custkey")
      .pivot(year(col("o_orderdate")), (1995 to 2001).map(Integer.valueOf))
      .agg(round(sum(col("o_totalprice")), 2))
    Ops.melt(wide, Seq("o_custkey"), "yr", "total")
  }

  /** W2: unpivot/melt, GDP shape (dag1.py:96) — more value columns, long
    * counts. */
  private val w2UnpivotLineitem: Q = (s, dir) => {
    val wide = t(s, dir, "lineitem")
      .groupBy("l_suppkey")
      .pivot(year(col("l_shipdate")), (1995 to 2001).map(Integer.valueOf))
      .agg(count(lit(1)))
    Ops.melt(wide, Seq("l_suppkey"), "yr", "n")
  }

  /** W3: full-row dedup (dag1.py drop_duplicates, 15 sites). */
  private val w3DedupDistinct: Q = (s, dir) =>
    t(s, dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()

  /** W3 keyed variant: deterministic keep-first-by-tiebreak dedup. */
  private val w3DedupKeys: Q = (s, dir) =>
    Ops.dedupKeys(t(s, dir, "orders"), Seq("o_custkey"), Seq(col("o_orderkey")))
      .select("o_custkey", "o_orderkey")

  /** W3 aggregate variant: same keyed dedup via min_by — map-side partial
    * aggregation instead of a full window sort (the fact-table shape).
    * o_orderkey is unique, so this provably equals the window form and
    * shares its oracle. */
  private val w3DedupKeysAgg: Q = (s, dir) =>
    Ops.dedupKeysAgg(
        t(s, dir, "orders").select("o_custkey", "o_orderkey"),
        Seq("o_custkey"), Seq(col("o_orderkey")))
      .select("o_custkey", "o_orderkey")

  /** W4*: deterministic train/val/test split (dataset-curation extension):
    * multiplicative-hash bucket of the key, cut at 80/10/10 — map-only and
    * exactly mirrorable in SQL, so the whole assignment is oracle-checked. */
  private val w4TrainSplit: Q = (s, dir) =>
    Ops.deterministicSplit(t(s, dir, "orders"), "o_orderkey")
      .groupBy("split").agg(count(lit(1)).as("cnt"))

  // ----------------------------------------------------------------- joins
  /** J1+F10: full-outer equi-join with coalesce backfill (dag1.py:111-113). */
  private val j1FullOuter: Q = (s, dir) => {
    val a = t(s, dir, "nation").filter(col("n_regionkey") < 2)
      .select(col("n_nationkey").as("k"), col("n_name"))
    val b = t(s, dir, "customer").filter(col("c_nationkey") >= 5)
      .select(col("c_nationkey").as("k")).distinct()
    a.join(b, a("k") === b("k"), "full_outer")
      .select(coalesce(a("k"), b("k")).as("geo_key"),
        coalesce(col("n_name"), lit("NONE")).as("name"),
        b("k").isNotNull.as("in_customers"))
  }

  /** J2+A6: surrogate-key dim joined back on the 3-col natural key,
    * broadcast (dag1.py:134-137). */
  private val j2Broadcast3col: Q = (s, dir) => {
    val part = t(s, dir, "part")
    val dim = Ops.surrogateKey(part, Seq("p_brand", "p_type", "p_size"), "sk_id")
    part.join(broadcast(dim), Seq("p_brand", "p_type", "p_size"))
      .select("p_partkey", "sk_id")
  }

  /** J3: inner join on name — location-style dim drops unmatched rows
    * (dag1.py:139). */
  private val j3NameJoinCustomer: Q = (s, dir) => {
    val nation = t(s, dir, "nation")
    val loc = nation.filter(col("n_regionkey") < 3).select("n_name")
    t(s, dir, "customer")
      .join(nation, col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
      .join(broadcast(loc), Seq("n_name"))
      .select("c_custkey", "n_name")
  }

  /** J4: inner join on name, supplier side (dag1.py:157). */
  private val j4NameJoinSupplier: Q = (s, dir) => {
    val nation = t(s, dir, "nation")
    val loc = nation.filter(col("n_regionkey").isin(0, 2, 4)).select("n_name")
    t(s, dir, "supplier")
      .join(nation, col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
      .join(broadcast(loc), Seq("n_name"))
      .select("s_suppkey", "n_name")
  }

  /** J5: skew-tolerant salted join — deterministic row-hash salting, so the
    * result set equals the plain join (the oracle) while hot keys spread
    * across reducers. */
  private val j5SaltedJoin: Q = (s, dir) => {
    val li = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey", "l_quantity")
    val sup = t(s, dir, "supplier")
      .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
    Ops.saltedJoin(li, sup, Seq("l_suppkey"), salts = 8)
      .select("l_orderkey", "l_suppkey", "l_quantity", "s_name")
  }

  /** K5: bucketed co-located join — both sides written bucketed on the join
    * key (Sinks.writeBucketed), joined without an exchange. */
  private val k5BucketedJoin: Q = (s, dir) => {
    Seq("graft_bkt_orders", "graft_bkt_cust").foreach(Sinks.dropManagedTable(s, _))
    Sinks.writeBucketed(t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
      "graft_bkt_orders", Seq("o_custkey"), 8, Seq("o_custkey"))
    Sinks.writeBucketed(t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
      "graft_bkt_cust", Seq("c_custkey"), 8, Seq("c_custkey"))
    s.table("graft_bkt_orders")
      .join(s.table("graft_bkt_cust"), col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "o_custkey", "o_totalprice", "c_mktsegment")
  }

  // ------------------------------------------------------------ aggregates
  /** A1: group-by mean (dag1.py:164). */
  private val a1GroupbyMean: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(round(avg(col("l_quantity")), 6).as("mean_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"),
        count(lit(1)).as("n"))

  /** A3: duplicate-key count (dag1.py:74,78). */
  private val a3DuplicateCount: Q = (s, dir) =>
    t(s, dir, "lineitem").groupBy("l_orderkey").count()
      .agg(coalesce(sum(when(col("count") > 1, col("count") - 1)), lit(0L))
        .as("excess_dup_rows"))

  /** A4: null-key existence (dag1.py:72). */
  private val a4NullKeyCount: Q = (s, dir) =>
    t(s, dir, "orders")
      .agg(sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("null_keys"))

  /** A5: the PK gate itself — query succeeds only if the gate passes
    * (dag1.py:71-79). */
  private val a5PkGate: Q = (s, dir) => {
    import s.implicits._
    val orders = t(s, dir, "orders")
    // Gate and report from ONE aggregation job — the gate's own stats are
    // the report, so the table is scanned once, not three times.
    val (nulls, dups, rows) = Quality.keyStatsWithRows(orders, Seq("o_orderkey"))
    Quality.gate("orders", nulls, dups)
    Seq(("orders", nulls, dups, rows))
      .toDF("table_name", "null_keys", "dup_keys", "n_rows")
  }

  /** A7*: row-level expectations report — every named predicate counted in
    * one pass; false OR NULL both violate (three-valued logic must not
    * let unknowns pass a gate). */
  private val a7Expectations: Q = (s, dir) =>
    Quality.expectationReport(t(s, dir, "orders"), Seq(
      "orderkey_not_null" -> col("o_orderkey").isNotNull,
      "totalprice_positive" -> (col("o_totalprice") > 0),
      "status_in_domain" -> col("o_orderstatus").isin("O", "F", "P"),
      "priority_nonempty" -> (length(col("o_orderpriority")) > 0)))

  /** A8*: key-skew diagnostic — heaviest keys + share, the pre-join
    * measurement behind saltedJoin/AQE-skew decisions. */
  private val a8KeySkew: Q = (s, dir) =>
    Quality.keySkewProfile(t(s, dir, "lineitem"), Seq("l_suppkey"), topN = 10)

  /** A6: deterministic ordinal surrogate key (dag1.py:134-135). */
  private val a6SurrogateKey: Q = (s, dir) =>
    Ops.surrogateKey(t(s, dir, "part"), Seq("p_brand", "p_type", "p_size"), "sk_id")

  /** L1: LIMIT with a defining sort (api.py:24; SURVEY §7.4 determinism). */
  private val l1Limit: Q = (s, dir) =>
    t(s, dir, "orders").orderBy("o_orderkey").limit(10)
      .select("o_orderkey", "o_custkey", "o_totalprice")

  /** L2 — keyset-free pagination: ORDER BY + OFFSET + LIMIT through the
    * `Dataset.offset` API (page 6 of 20-row pages). Deterministic under
    * the total key order; the plan stays a single bounded global sort —
    * the serving-tier "page N" shape (for deep pages production serving
    * should switch to keyset pagination on the sort key, which is
    * `filter(key > lastSeen).limit(n)` — L1's shape). */
  private val l2Pagination: Q = (s, dir) =>
    t(s, dir, "orders").orderBy("o_orderkey").offset(100).limit(20)
      .select("o_orderkey", "o_custkey", "o_totalprice")

  // ------------------------------------------------------------- profiling
  /** PR1: count / missing (profiling.py:50). */
  private val pr1Missing: Q = (s, dir) => {
    val o = t(s, dir, "orders").withColumn("p",
      when(col("o_orderkey") % 5 === 0, lit(null).cast(DoubleType))
        .otherwise(col("o_totalprice")))
    o.agg(count(lit(1)).as("n_rows"), count(col("p")).as("n_present"),
      sum(when(col("p").isNull, 1L).otherwise(0L)).as("n_missing"))
  }

  /** PR2: exact distinct counts (HLL variant is Profile's default). */
  private val pr2Distinct: Q = (s, dir) =>
    t(s, dir, "customer").agg(
      count_distinct(col("c_mktsegment")).as("n_segments"),
      count_distinct(col("c_nationkey")).as("n_nations"))

  /** PR3: moments in one pass, through 3rd and 4th order. Spark's
    * `skewness`/`kurtosis` are POPULATION definitions (m3/m2^1.5 and
    * m4/m2^2 - 3), while DuckDB's builtins are sample-corrected — so the
    * oracle derives the population values from raw central moments. */
  private val pr3Moments: Q = (s, dir) =>
    t(s, dir, "lineitem").agg(
      round(avg(col("l_extendedprice")), 6).as("mean_price"),
      round(stddev(col("l_extendedprice")), 6).as("std_price"),
      min(col("l_extendedprice")).as("min_price"),
      max(col("l_extendedprice")).as("max_price"),
      round(skewness(col("l_extendedprice")), 6).as("skew_price"),
      round(kurtosis(col("l_extendedprice")), 6).as("kurt_price"))

  /** PR4: exact interpolated quantiles. */
  private val pr4Quantiles: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .agg(expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))").as("p"))
      .select(round(element_at(col("p"), 1), 6).as("q1"),
        round(element_at(col("p"), 2), 6).as("q2"),
        round(element_at(col("p"), 3), 6).as("q3"))

  /** PR7: equi-width histogram via `width_bucket` — l_quantity is 1..50, so
    * 10 buckets of width 5 over [1, 51). The max value would land in
    * width_bucket's overflow bucket at hi itself, but 50 < 51 so every row
    * is in range. */
  private val pr7Histogram: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .select(width_bucket(col("l_quantity").cast(DoubleType), lit(1.0), lit(51.0), lit(10))
        .as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))

  /** PR8: per-column frequent values (ydata-profiling's "Most frequent
    * values" block, finalprojectpandasprofiling.py:50) — the exact
    * distributed form: one (colIdx, value) cell pass, one exact groupBy
    * count, bounded-heap `topk_desc_str` per column. Deterministic
    * (cnt DESC, value ASC) tie-break, so the DuckDB row_number mirror
    * hash-checks both the counts and the ordering. */
  private val pr8Frequent: Q = (s, dir) =>
    graft.profile.Profile.frequentValues(
      t(s, dir, "customer").select(col("c_mktsegment"), col("c_nationkey")),
      topN = 5)

  /** PR8 numeric twin: frequent values over numeric columns with the
    * NUMERIC tie-break (`topk_desc_num` bounded heap) — c_nationkey's
    * many count ties exercise exactly the ordering the string form gets
    * wrong ("10" < "2" in binary order). */
  private val pr9FrequentNumeric: Q = (s, dir) =>
    graft.profile.Profile.frequentValuesNumeric(
      t(s, dir, "customer").select(col("c_nationkey"), col("c_acctbal")),
      topN = 5)

  /** PR13: the ydata-profiling ALERTS synthesis
    * ([[graft.profile.Profile.alerts]] — profiling.py:50's warnings
    * block) over a frame with PLANTED pathologies: a unique key, a
    * constant, a 20%-null column (missingThreshold 0.1 so the face pins
    * the thresholding, not just any-null), a high-cardinality id, and a
    * 1-in-997 spike column whose skewness (~31) crosses ydata's default
    * 20. Exact mode; the oracle SQL is GENERATED by
    * [[graft.profile.Profile.alertsSql]] beside the engine code. */
  private val pr13Alerts: Q = (s, dir) =>
    graft.profile.Profile.alerts(
      t(s, dir, "orders").select(
        col("o_orderkey").as("ok"),
        lit("X").as("const_col"),
        when(col("o_orderkey") % 5 === 0, lit(null).cast(DoubleType))
          .otherwise(col("o_totalprice")).as("gappy"),
        col("o_custkey").as("cust"),
        when(col("o_orderkey") % 997 === 0, col("o_totalprice") * 1000)
          .otherwise(lit(1.0)).as("spiky")),
      missingThreshold = 0.1, exact = true)

  /** PR5: duplicate full rows. */
  private val pr5DupRows: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    li.agg((count(lit(1)) -
      count_distinct(struct(li.columns.map(col): _*))).as("dup_rows"))
  }

  /** PR6: correlation matrix entries. */
  private val pr6Correlation: Q = (s, dir) =>
    t(s, dir, "lineitem").agg(
      round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
      round(corr(col("l_discount"), col("l_tax")), 6).as("corr_disc_tax"))

  /** PR14 — Spearman rank correlation over the PR6 pairs
    * ([[graft.profile.Profile.spearman]]): distributed average ranks
    * (doubled-integer form), ρ from exact DECIMAL sufficient sums
    * through a handful of IEEE ops at ROUND 6 — hash-green against the
    * single-window DuckDB replay, where corr() over rank doubles would
    * be partition-order noise. */
  private val pr14Spearman: Q = (s, dir) => Residency.eager { scope =>
    val li = t(s, dir, "lineitem")
    scope.adopt(Profile.spearman(li, "l_quantity", "l_extendedprice"))
      .select(col("n"), col("rho").as("rho_qty_price"))
      .crossJoin(scope.adopt(Profile.spearman(li, "l_discount", "l_tax"))
        .select(col("rho").as("rho_disc_tax")))
  }

  /** PR15 — Cramér's V association between order status and priority
    * ([[graft.profile.Profile.cramersV]]): full-contingency χ² with
    * round-6 per-cell terms summed as DECIMAL (deterministic), V at
    * ROUND 6. Hash-green against the grid replay. */
  private val pr15CramersV: Q = (s, dir) =>
    Profile.cramersV(t(s, dir, "orders"), "o_orderstatus",
      "o_orderpriority")

  /** PR16 — the ydata report's "Duplicates" section: the top-10
    * MOST-DUPLICATED rows themselves
    * ([[graft.profile.Profile.duplicateRowValues]] — PR5 counts
    * duplicates, this lists them), over the low-cardinality
    * (returnflag, linestatus, linenumber) projection where full-row
    * duplication is the norm. One exact all-columns groupBy + a bounded
    * TakeOrderedAndProject; integer counts + the all-columns tie-break
    * make the top-10 SET deterministic ⇒ hash-green. */
  private val pr16DupRows: Q = (s, dir) =>
    Profile.duplicateRowValues(
      t(s, dir, "lineitem").select("l_returnflag", "l_linestatus",
        "l_linenumber"),
      topN = 10)

  /** PR18 — the SHARED-RANK Spearman matrix
    * ([[graft.profile.Profile.spearmanSharedRanksFrame]] — the
    * O(columns) path [[graft.profile.Profile.profile]]'s association
    * tab runs, round 19): each column's doubled-rank map built ONCE,
    * all maps joined onto one shared row stream, every pair's
    * sufficient sums in ONE aggregation. This face hash-certifies the
    * shared path itself over lineitem's 4 headline numerics (6 pairs in
    * one row) against a replay that mirrors the same O(columns)
    * structure — per-column rank CTEs, one joined scan, HUGEINT sums.
    * Measured: the shared plan is 3.7× the per-pair loop on 8 columns
    * (81.7 → 21.9 s at sf0.1); this 4-column face runs 5.7–6.4 s warm
    * at sf0.1 and ~2.1× that at 10× lineitem (rank maps for the two
    * near-unique price/tax columns dominate — the same inherent cost
    * pr14 pays per pair, amortized here over 6 pairs). */
  private val pr18SpearmanMatrix: Q = (s, dir) =>
    Profile.spearmanSharedRanksFrame(t(s, dir, "lineitem"),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))

  /** Generated oracle for pr18: the shared-rank replay, structured like
    * the engine — ONE rank CTE per column (not per pair), one joined
    * scan, HUGEINT sufficient sums, per-pair ρ with the variance
    * guard. */
  private def spearmanMatrixOracle(cols: Seq[String]): String = {
    val nIdx = cols.indices
    val b = s"b AS (SELECT ${cols.zipWithIndex.map { case (c, i) =>
      s"$c AS c$i" }.mkString(", ")} FROM lineitem)"
    val rankCtes = nIdx.map { i =>
      s"r$i AS (SELECT v, 2 * SUM(cnt) OVER (ORDER BY v) - cnt + 1 AS r2" +
        s" FROM (SELECT c$i AS v, count(*) AS cnt FROM b GROUP BY 1))"
    }
    val joins = nIdx.map(i => s"JOIN r$i m$i ON b.c$i = m$i.v").mkString(" ")
    val j = s"j AS (SELECT ${nIdx.map(i => s"m$i.r2 AS ra$i")
      .mkString(", ")} FROM b $joins)"
    val pairs = for { i <- nIdx; k <- (i + 1) until cols.length } yield (i, k)
    val sAggs = Seq("CAST(count(*) AS HUGEINT) AS n") ++
      nIdx.flatMap(i => Seq(s"CAST(SUM(ra$i) AS HUGEINT) AS s$i",
        s"SUM(CAST(ra$i AS HUGEINT) * ra$i) AS ss$i")) ++
      pairs.map { case (i, k) =>
        s"SUM(CAST(ra$i AS HUGEINT) * ra$k) AS sp${i}_$k" }
    val sCte = s"s AS (SELECT ${sAggs.mkString(", ")} FROM j)"
    val rhoSelects = pairs.map { case (i, k) =>
      s"CASE WHEN CAST(n * ss$i - s$i * s$i AS DOUBLE) > 0" +
        s" AND CAST(n * ss$k - s$k * s$k AS DOUBLE) > 0 THEN" +
        s" ROUND(CAST(n * sp${i}_$k - s$i * s$k AS DOUBLE)" +
        s" / SQRT(CAST(n * ss$i - s$i * s$i AS DOUBLE)" +
        s" * CAST(n * ss$k - s$k * s$k AS DOUBLE)), 6)" +
        s" ELSE NULL END AS rho_${cols(i)}__${cols(k)}"
    }
    s"""WITH $b,
       |${rankCtes.mkString(",\n")},
       |$j,
       |$sCte
       |SELECT CAST(n AS BIGINT) AS n,
       |${rhoSelects.mkString(",\n")}
       |FROM s""".stripMargin
  }

  /** PR17 — PHI-K association ([[graft.profile.Profile.phik]], Baak et
    * al. 2019 — ydata v4's DEFAULT association matrix) over the SAME
    * pair as the hash-green pr15: the row's n/r_levels/c_levels/chi2
    * are the identical cramersV arithmetic (certified by pr15), and
    * φk itself is a numerical bivariate-normal χ² inversion that no
    * SQL engine replays — ROWS-ONLY by contract, twinned by
    * pr15_cramers_v and spec-pinned in ProfileSpec against Sheppard's
    * closed-form 2×2 orthant case. */
  private val pr17Phik: Q = (s, dir) =>
    Profile.phik(t(s, dir, "orders"), "o_orderstatus", "o_orderpriority")

  /** PR19 — INTERVAL φk ([[graft.profile.Profile.phikBinned]]): the
    * paper's binned form for numeric pairs (ydata's default matrix
    * computes φk between numeric columns by discretizing them), over
    * the PR6/PR14 headline pair at 8 quantile bins. ROWS-ONLY like
    * pr17 (the inversion is numerical); the binning and contingency
    * machinery is the same certified pr15 arithmetic, and ProfileSpec
    * pins the closed-form 2-bin Sheppard case, the monotone → 1
    * clamp, and the independent split → 0. */
  private val pr19PhikInterval: Q = (s, dir) =>
    Profile.phikBinned(t(s, dir, "lineitem"), "l_quantity",
      "l_extendedprice", bins = 8)

  /** PR20 — the HASH-GREEN certificate of pr19's binning
    * ([[graft.profile.Profile.phikBinnedContingency]]): the SAME
    * quantile binning (shared `quantileBinnedPair` code — one
    * implementation, zero drift surface) pushed through the pr15
    * contingency/χ² machinery over the SAME pair and bin count, so the
    * interval-φk face's rows-only surface shrinks to
    * [[graft.profile.PhikMath.invert]] alone: cutpoint placement,
    * strict-greater bucketing, zero-padded label order, the 8×8 grid
    * and the per-cell round-6 DECIMAL χ² sum are all hash-checked
    * here. */
  private val pr20BinnedChi2: Q = (s, dir) =>
    Profile.phikBinnedContingency(t(s, dir, "lineitem"), "l_quantity",
      "l_extendedprice", bins = 8)

  /** Generated oracle for pr20: quantile-bin replay — quantile_cont ≡
    * Spark's exact interpolated percentile (the f11/a13 precedent; the
    * 1/8-grid fractions are binary-exact literals on both sides),
    * strict-greater bucketing, zero-padded labels — feeding the exact
    * pr15 contingency replay over the binned labels. */
  private def binnedChi2Oracle(xCol: String, yCol: String,
                               bins: Int): String = {
    val fr = (1 until bins).map(i => s"CAST(${i.toDouble / bins} AS DOUBLE)")
      .mkString(", ")
    // pad width mirrors quantileBinnedPair's format_string exactly —
    // a hardcoded 3 would silently drift from the engine at bins ≥ 1000
    val pad = math.max(3, bins.toString.length)
    def bucket(v: String, cuts: String): String = {
      val idx = (1 until bins)
        .map(i => s"(CASE WHEN $v > $cuts[$i] THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"'b' || lpad(CAST($idx AS VARCHAR), $pad, '0')"
    }
    s"""WITH v AS (SELECT CAST($xCol AS DOUBLE) AS x,
       |  CAST($yCol AS DOUBLE) AS y FROM lineitem
       |  WHERE $xCol IS NOT NULL AND $yCol IS NOT NULL),
       |cuts AS (SELECT quantile_cont(x, [$fr]) AS cx,
       |  quantile_cont(y, [$fr]) AS cy FROM v),
       |base AS (SELECT ${bucket("x", "cx")} AS a,
       |  ${bucket("y", "cy")} AS b FROM v CROSS JOIN cuts),
       |obs AS (SELECT a, b, count(*) AS o FROM base GROUP BY 1, 2),
       |ra AS (SELECT a, sum(o) AS rt FROM obs GROUP BY 1),
       |cb AS (SELECT b, sum(o) AS ct FROM obs GROUP BY 1),
       |tot AS (SELECT sum(o) AS n FROM obs),
       |grid AS (SELECT ra.a, cb.b, rt, ct, n, COALESCE(o, 0) AS o0
       |  FROM ra CROSS JOIN cb CROSS JOIN tot
       |  LEFT JOIN obs ON obs.a = ra.a AND obs.b = cb.b),
       |terms AS (SELECT n,
       |  CAST(ROUND(CAST((CAST(o0 AS HUGEINT) * n - CAST(rt AS HUGEINT) * ct)
       |      * (CAST(o0 AS HUGEINT) * n - CAST(rt AS HUGEINT) * ct) AS DOUBLE)
       |    / CAST(CAST(rt AS HUGEINT) * ct * n AS DOUBLE), 6)
       |    AS DECIMAL(28, 6)) AS term
       |  FROM grid),
       |s AS (SELECT CAST(MAX(n) AS BIGINT) AS n,
       |  CAST((SELECT count(*) FROM ra) AS INTEGER) AS r_levels,
       |  CAST((SELECT count(*) FROM cb) AS INTEGER) AS c_levels,
       |  SUM(term) AS chi2 FROM terms)
       |SELECT n, r_levels, c_levels, CAST(chi2 AS DOUBLE) AS chi2,
       |  CASE WHEN LEAST(r_levels, c_levels) > 1 AND n > 0 THEN
       |    ROUND(SQRT(CAST(chi2 AS DOUBLE)
       |      / CAST(n * (LEAST(r_levels, c_levels) - 1) AS DOUBLE)), 6)
       |  ELSE NULL END AS cramers_v
       |FROM s""".stripMargin
  }

  /** PR21 — NULLITY CORRELATION
    * ([[graft.profile.Profile.nullityCorrelation]]): ydata's
    * missing-values association matrix, over three deterministically
    * gapped order columns (nulls planted at key mod 5 / 7 / 10, so
    * co-missingness is exactly the lcm overlap). Pearson φ over the
    * isNull indicators from exact integer sufficient sums at ROUND 6 ⇒
    * hash-green; the never-null key column drops out via the
    * zero-variance gate (the ydata convention). */
  private val pr21Nullity: Q = (s, dir) =>
    Profile.nullityCorrelation(t(s, dir, "orders").select(
      col("o_orderkey"),
      when(col("o_orderkey") % 5 === 0, lit(null).cast(DoubleType))
        .otherwise(col("o_totalprice")).as("price_gappy"),
      when(col("o_orderkey") % 7 === 0, lit(null).cast(StringType))
        .otherwise(col("o_orderpriority")).as("prio_gappy"),
      when(col("o_orderkey") % 10 === 0, lit(null).cast(LongType))
        .otherwise(col("o_custkey").cast(LongType)).as("cust_gappy")))

  /** Generated oracle for pr21: indicator sums in HUGEINT, per-pair φ
    * through the same few double ops at ROUND 6. */
  private def nullityOracle: String = {
    val cols = Seq("price_gappy" -> 5, "prio_gappy" -> 7, "cust_gappy" -> 10)
    val inds = cols.zipWithIndex.map { case ((_, m), i) =>
      s"CASE WHEN o_orderkey % $m = 0 THEN 1 ELSE 0 END AS i$i" }
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.length } yield (i, j)
    val sums = Seq("CAST(count(*) AS HUGEINT) AS n") ++
      cols.indices.map(i => s"CAST(sum(i$i) AS HUGEINT) AS s$i") ++
      pairs.map { case (i, j) =>
        s"CAST(sum(i$i * i$j) AS HUGEINT) AS p${i}_$j" }
    val arms = pairs.map { case (i, j) =>
      s"""SELECT '${cols(i)._1}' AS col_a, '${cols(j)._1}' AS col_b,
         | CAST(n AS BIGINT) AS n,
         | CASE WHEN CAST(n * s$i - s$i * s$i AS DOUBLE) > 0
         |   AND CAST(n * s$j - s$j * s$j AS DOUBLE) > 0 THEN
         |   ROUND(CAST(n * p${i}_$j - s$i * s$j AS DOUBLE)
         |     / SQRT(CAST(n * s$i - s$i * s$i AS DOUBLE)
         |       * CAST(n * s$j - s$j * s$j AS DOUBLE)), 6)
         | ELSE NULL END AS nullity_corr FROM s""".stripMargin
    }
    s"""WITH src AS (SELECT ${inds.mkString(",\n  ")} FROM orders),
       |s AS (SELECT ${sums.mkString(",\n  ")} FROM src)
       |${arms.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** Shared rater fixture for pr23/pr24: two ordinal 3-level "quality
    * verdicts" derived from correlated lineitem columns at fixed cut
    * constants (quantity terciles-ish vs price bands — price grows with
    * quantity, so agreement is real but imperfect; both deterministic,
    * both engines derive them identically). */
  private def kappaRaters(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select(
      when(col("l_quantity") <= 16, lit("q1"))
        .when(col("l_quantity") <= 33, lit("q2"))
        .otherwise(lit("q3")).as("rater_a"),
      when(col("l_extendedprice") <= 25000, lit("q1"))
        .when(col("l_extendedprice") <= 50000, lit("q2"))
        .otherwise(lit("q3")).as("rater_b"))

  private val kappaRatersSql: String =
    """SELECT
      | CASE WHEN l_quantity <= 16 THEN 'q1'
      |   WHEN l_quantity <= 33 THEN 'q2' ELSE 'q3' END AS a,
      | CASE WHEN l_extendedprice <= 25000 THEN 'q1'
      |   WHEN l_extendedprice <= 50000 THEN 'q2' ELSE 'q3' END AS b
      |FROM lineitem""".stripMargin

  /** PR23/PR24 — COHEN'S KAPPA agreement
    * ([[graft.profile.Profile.cohenKappa]]): chance-corrected agreement
    * between two derived quality verdicts; pr23 unweighted, pr24
    * quadratic-weighted (ordinal near-misses punished less). Exact
    * integer sums through ONE round-6 division ⇒ hash-green. */
  private val pr23Kappa: Q = (s, dir) =>
    Profile.cohenKappa(kappaRaters(s, dir), "rater_a", "rater_b")

  private val pr24KappaWeighted: Q = (s, dir) =>
    Profile.cohenKappa(kappaRaters(s, dir), "rater_a", "rater_b",
      weighting = "quadratic")

  /** Generated oracle for pr23/pr24: the same union-label ranks (an
    * inequality-join rank, no window), HUGEINT weighted sums, one
    * round-6 division. */
  private def kappaOracle(weighting: String): String = {
    val w = weighting match {
      case "none"      => "CASE WHEN %I = %J THEN 0 ELSE 1 END"
      case "linear"    => "ABS(%I - %J)"
      case "quadratic" => "(%I - %J) * (%I - %J)"
    }
    def wAt(i: String, j: String): String =
      w.replace("%I", i).replace("%J", j)
    s"""WITH src AS ($kappaRatersSql),
       |obs AS (SELECT a, b, count(*) AS o FROM src
       |  WHERE a IS NOT NULL AND b IS NOT NULL GROUP BY 1, 2),
       |labs AS (SELECT DISTINCT lab FROM
       |  (SELECT a AS lab FROM obs UNION ALL SELECT b FROM obs)),
       |ranked AS (SELECT x.lab AS lab, count(*) AS idx
       |  FROM labs x JOIN labs y ON y.lab <= x.lab GROUP BY 1),
       |ra AS (SELECT a, sum(o) AS rt FROM obs GROUP BY 1),
       |cb AS (SELECT b, sum(o) AS ct FROM obs GROUP BY 1),
       |rm AS (SELECT r.idx AS ia, CAST(COALESCE(rt, 0) AS HUGEINT) AS r
       |  FROM ranked r LEFT JOIN ra ON ra.a = r.lab),
       |cm AS (SELECT r.idx AS ib, CAST(COALESCE(ct, 0) AS HUGEINT) AS c
       |  FROM ranked r LEFT JOIN cb ON cb.b = r.lab),
       |wexp AS (SELECT SUM(CAST(${wAt("ia", "ib")} AS HUGEINT) * r * c)
       |  AS wexp FROM rm CROSS JOIN cm),
       |sums AS (SELECT CAST(SUM(o) AS HUGEINT) AS n,
       |  CAST(SUM(CASE WHEN a = b THEN o ELSE 0 END) AS HUGEINT) AS agree,
       |  SUM(CAST(${wAt("x.idx", "y.idx")} AS HUGEINT) * o) AS wobs
       |  FROM obs JOIN ranked x ON x.lab = obs.a
       |  JOIN ranked y ON y.lab = obs.b)
       |SELECT CAST(COALESCE(n, 0) AS BIGINT) AS n,
       |  CAST((SELECT count(*) FROM labs) AS INTEGER) AS levels,
       |  CAST(COALESCE(agree, 0) AS BIGINT) AS agree,
       |  CASE WHEN wexp > 0 THEN
       |    ROUND(1 - CAST(n * wobs AS DOUBLE) / CAST(wexp AS DOUBLE), 6)
       |  ELSE NULL END AS kappa
       |FROM sums CROSS JOIN wexp""".stripMargin
  }

  /** PR22 — INTERACTIONS 2-D histograms
    * ([[graft.profile.Profile.interactions]]): the ydata report's
    * pairwise scatter-grid section as data, over three lineitem
    * numerics at 6 equal-width bins. Bucket ids are plain IEEE floor
    * arithmetic (portable, unlike width_bucket) and the cell counts are
    * integers ⇒ hash-green. */
  private val pr22Interactions: Q = (s, dir) =>
    Profile.interactions(t(s, dir, "lineitem"),
      Seq("l_quantity", "l_discount", "l_tax"), bins = 6)

  /** Generated oracle for pr22: min/max CTE broadcast back, the same
    * floor((x−lo)/(hi−lo)·bins) capped-at-top bucket arithmetic, one
    * grouped count per occupied cell. */
  private def interactionsOracle(cols: Seq[String], bins: Int): String = {
    val sel = cols.zipWithIndex.map { case (c, i) =>
      s"CAST($c AS DOUBLE) AS x$i" }
    val mm = cols.indices.flatMap(i =>
      Seq(s"min(x$i) AS lo$i", s"max(x$i) AS hi$i"))
    def bx(i: Int): String =
      s"LEAST(CAST(FLOOR((x$i - lo$i) / (hi$i - lo$i) " +
        s"* CAST($bins AS DOUBLE)) AS BIGINT), ${bins - 1})"
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.length } yield (i, j)
    val arms = pairs.map { case (i, j) =>
      s"""SELECT '${cols(i)}' AS col_a, '${cols(j)}' AS col_b,
         | ${bx(i)} AS bx, ${bx(j)} AS by
         |FROM v CROSS JOIN mm
         |WHERE x$i IS NOT NULL AND x$j IS NOT NULL
         |  AND hi$i > lo$i AND hi$j > lo$j""".stripMargin
    }
    s"""WITH v AS (SELECT ${sel.mkString(", ")} FROM lineitem),
       |mm AS (SELECT ${mm.mkString(", ")} FROM v),
       |cells AS (${arms.mkString("\nUNION ALL\n")})
       |SELECT col_a, col_b, CAST(bx AS INTEGER) AS bx,
       | CAST(by AS INTEGER) AS by, CAST(count(*) AS BIGINT) AS cnt
       |FROM cells GROUP BY 1, 2, 3, 4""".stripMargin
  }

  // ------------------------------------------- CDC / scale-join extensions
  /** J6 — bloom-pruned semi-join: lineitem rows belonging to high-value
    * orders (~5% selectivity). The big side is pruned by a compact Bloom
    * filter of the key set before the exact semi-join; the result is
    * bit-identical to a plain semi-join (the oracle), the plan carries
    * ~20× fewer rows into the join. */
  private val j6BloomPrune: Q = (s, dir) => {
    val keys = t(s, dir, "orders")
      .filter(col("o_totalprice") > 470000).select("o_orderkey")
    Ops.bloomSemiJoin(t(s, dir, "lineitem"), keys, "l_orderkey", "o_orderkey",
        expectedItems = 100000L, fpp = 0.01)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 6).as("sum_qty"))
  }

  /** W7 — CDC snapshot diff. Old/new snapshots are derived
    * deterministically from `orders`: keys ≡ 0 (mod 100) exist only in the
    * new snapshot (inserts), ≡ 1 only in the old (deletes), ≡ 2 carry a
    * ×1.1 price in the new snapshot (updates); everything else is
    * unchanged and must NOT appear in the diff. */
  private val w7SnapshotDiff: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val oldSnap = o.filter(col("o_orderkey") % 100 =!= 0)
      .select(col("o_orderkey"), col("o_totalprice"))
    val newSnap = o.filter(col("o_orderkey") % 100 =!= 1)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 100 === 2, col("o_totalprice") * 1.1)
          .otherwise(col("o_totalprice")).as("o_totalprice"))
    Ops.snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"), Seq("o_totalprice"))
      .select(col("o_orderkey"), col("change_type"),
        round(col("old_o_totalprice"), 6).as("old_price"),
        round(col("new_o_totalprice"), 6).as("new_price"))
  }

  /** K11 — CDC round-trip: apply the W7 changeset back onto the old
    * snapshot; the result must be byte-identical to the new snapshot
    * (which the oracle derives directly). Proves the
    * snapshotDiff → applyChangeset pair is lossless. */
  private val k11ChangesetApply: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val oldSnap = o.filter(col("o_orderkey") % 100 =!= 0)
      .select(col("o_orderkey"), col("o_totalprice"))
    val newSnap = o.filter(col("o_orderkey") % 100 =!= 1)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 100 === 2, col("o_totalprice") * 1.1)
          .otherwise(col("o_totalprice")).as("o_totalprice"))
    val diff = Ops.snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"), Seq("o_totalprice"))
    Ops.applyChangeset(oldSnap, diff, Seq("o_orderkey"), Seq("o_totalprice"))
      .select(col("o_orderkey"), round(col("o_totalprice"), 6).as("price"))
  }

  /** W14 — Merkle bucketed snapshot comparison over the W7 CDC fixture
    * (integer/string value columns only — string casts of doubles are not
    * engine-canonical, so the hashed digest payload excludes them): 64
    * buckets of (count, BIGINT digest-sum) per side, statuses from the
    * full-outer bucket join. The 100 TB anti-entropy shape: constant-size
    * summaries cross the wire; a re-sync touches only non-`same` buckets. */
  private val w14MerkleDiff: Q = (s, dir) => {
    val o = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
    val oldSnap = o.filter(col("o_orderkey") % 100 =!= 0)
    val newSnap = o.filter(col("o_orderkey") % 100 =!= 1)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 100 === 2, col("o_custkey") + 7)
          .otherwise(col("o_custkey")).as("o_custkey"),
        col("o_orderstatus"))
    Ops.merkleDiff(oldSnap, newSnap, "o_orderkey",
      Seq("o_custkey", "o_orderstatus"), buckets = 64)
  }

  /** F11 — winsorize: clip a numeric column to its exact [p05, p95]
    * percentiles (outlier handling for downstream stats). The percentile
    * pair is a single-row aggregate broadcast back over the table — no
    * global sort, no window. */
  private val f11Winsorize: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val p = o.agg(
      percentile(col("o_totalprice"), lit(0.05)).as("p05"),
      percentile(col("o_totalprice"), lit(0.95)).as("p95"))
    o.crossJoin(broadcast(p))
      .select(col("o_orderkey"),
        round(least(greatest(col("o_totalprice"), col("p05")), col("p95")), 6)
          .as("price_w"))
  }

  /** K10 — z-order layout round-trip: rewrite lineitem along the Morton
    * curve over (l_partkey, l_suppkey), then answer a filter on the SECOND
    * curve column from the re-laid-out copy. Correctness = the filter
    * result is identical to querying the original table (the oracle);
    * the pruning win itself is asserted in ZorderSpec on row-group
    * metrics. */
  private val k10ZorderScan: Q = (s, dir) => {
    val out = tmpDir("k10") + "/lineitem_z"
    graft.io.Zorder.write(
      t(s, dir, "lineitem").select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity"),
      Seq("l_partkey", "l_suppkey"), out, bits = 10, partitions = 4,
      blockSize = Some(256 * 1024))
    s.read.parquet(out).filter(col("l_suppkey") <= 10)
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 6).as("sum_qty"))
  }

  /** J7 — anti-join: customers with NO high-value order. Completes the
    * join family (inner/outer/semi are covered elsewhere); planned as a
    * broadcast anti-join over the filtered key set. */
  private val j7AntiJoin: Q = (s, dir) => {
    val highValue = t(s, dir, "orders").filter(col("o_totalprice") > 470000)
      .select(col("o_custkey").as("c_custkey"))
    t(s, dir, "customer").join(highValue, Seq("c_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_acctbal")
  }

  /** J8 — SHUFFLE_HASH-hinted fact-to-fact join: when the build side is
    * too big to broadcast but fits per-partition memory, a shuffled hash
    * join skips sort-merge's two sorts — the join-strategy control knob
    * beside j2's broadcast. The hint changes the PHYSICAL plan only
    * (pinned as ShuffledHashJoinExec in OpsSpec); results match the
    * plain join, so the oracle is the ordinary SQL aggregate. */
  private val j8ShuffleHashJoin: Q = (s, dir) => {
    val l = t(s, dir, "lineitem").select("l_orderkey", "l_quantity")
    val o = t(s, dir, "orders").select("o_orderkey", "o_orderstatus")
    l.join(o.hint("SHUFFLE_HASH"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 6).as("sum_qty"))
  }

  /** A9 — rollup with grouping ids: subtotal rows at (priority, status),
    * (priority) and grand-total level, one pass (Spark expands the
    * grouping sets map-side; one shuffle). */
  private val a9Rollup: Q = (s, dir) =>
    t(s, dir, "orders")
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 6).as("total"),
        grouping_id().cast(LongType).as("gid"))

  /** J9 — LEFT SEMI join: existence filtering without duplicating or
    * widening rows (the relational half of j6's bloom prune — semi is
    * what the bloom approximates). Customers with at least one
    * high-value order, customer columns only, each exactly once. */
  private val j9SemiJoin: Q = (s, dir) => {
    val highValue = t(s, dir, "orders").filter(col("o_totalprice") > 470000)
      .select(col("o_custkey").as("c_custkey"))
    t(s, dir, "customer").join(highValue, Seq("c_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_acctbal")
  }

  /** J10 — fuzzy join (edit-distance entity resolution): part-name
    * TYPES matched against planted-typo variants (first char dropped /
    * char appended, keyed off p_partkey mod 3 — the dd_simhash
    * planted-corruption discipline) at levenshtein ≤ 1, via
    * [[graft.ops.Ops.fuzzyJoinEditDistance]]'s q-gram prefix blocking.
    * The oracle is the BRUTE-FORCE cross join + levenshtein filter, so
    * the hash check verifies the blocking's completeness guarantee,
    * not just the distance arithmetic. */
  private val j10FuzzyJoin: Q = (s, dir) => {
    val part = t(s, dir, "part")
    val names = part.groupBy(col("p_name").as("name"))
      .agg(min(col("p_partkey")).as("name_id"))
    val variants = part.filter(col("p_partkey") < 500)
      .select(col("p_partkey").as("var_id"),
        when(col("p_partkey") % 3 === 0, expr("substring(p_name, 2)"))
          .when(col("p_partkey") % 3 === 1, concat(col("p_name"), lit("x")))
          .otherwise(col("p_name")).as("variant"))
    graft.ops.Ops.fuzzyJoinEditDistance(names, variants,
      "name_id", "var_id", "name", "variant", q = 3, maxDist = 1)
  }

  /** J11 — the FULL entity-resolution pipeline: noisy entity table
    * (clean part-name types ∪ planted-typo variants at offset ids) →
    * blocked fuzzy SELF-join ([[j10FuzzyJoin]]'s operator, left_id <
    * right_id) → connected components
    * ([[graft.dedup.Dedup.duplicateClusters]]) → canonical record =
    * min-id member (`kept`). Transitivity is what this adds over the
    * raw pair list: "mall ring" links to "small ring" links to
    * "small ringx" even though the two variants are 2 edits apart.
    * The oracle replays blocking-free pairing + a recursive
    * min-reachable-id closure, so the hash certifies blocking
    * completeness AND the iterative propagation. */
  private val j11ErClusters: Q = (s, dir) => {
    val part = t(s, dir, "part")
    val names = part.groupBy(col("p_name").as("name"))
      .agg(min(col("p_partkey")).as("id"))
    val variants = part.filter(col("p_partkey") < 500)
      .select((col("p_partkey") + 1000000L).as("id"),
        when(col("p_partkey") % 3 === 0, expr("substring(p_name, 2)"))
          .when(col("p_partkey") % 3 === 1, concat(col("p_name"), lit("x")))
          .otherwise(col("p_name")).as("name"))
    val entities = names.select("id", "name")
      .unionByName(variants.select("id", "name"))
    val pairs = graft.ops.Ops.fuzzyJoinEditDistance(entities, entities,
        "id", "id", "name", "name", q = 3, maxDist = 1)
      .filter(col("left_id") < col("right_id"))
      .select(col("left_id").as("id_a"), col("right_id").as("id_b"))
    Residency.eager { scope =>
      scope.adopt(graft.dedup.Dedup.duplicateClusters(entities.select("id"), "id", pairs))
        .select(col("id"), col("cluster").as("cluster_id"),
          (col("id") === col("cluster")).cast(IntegerType).as("kept"))
    }
  }

  /** A21 — exact nearest-rank percentile report (p25/p50/p75/p90/p99 of
    * order price per status): every percentile an actual data value out
    * of ONE distributed prefix scan, fully hash-checked — the latency-
    * report shape (p99!) done exactly instead of by sketch. */
  private val a21Percentiles: Q = (s, dir) =>
    graft.quality.Quality.exactPercentiles(
      t(s, dir, "orders").select("o_orderstatus", "o_totalprice"),
      "o_orderstatus", "o_totalprice", Seq(25, 50, 75, 90, 99))

  /** The string-SQL face of the engine: registered temp views +
    * `spark.sql` — the same Catalyst plan the DataFrame API builds, via
    * the surface ad-hoc users actually type. The three classic TPC-H
    * shapes (adapted to the available columns): Q1 pricing summary, Q3
    * shipping-priority revenue (minus the absent o_shippriority), Q6
    * forecast revenue. Oracles are the same ANSI SQL in DuckDB. */
  private def sqlOver(s: SparkSession, dir: String, tables: Seq[String],
                      sql: String): DataFrame = {
    tables.foreach(tb => t(s, dir, tb).createOrReplaceTempView(tb))
    s.sql(sql)
  }

  private val sqlQ1Pricing: Q = (s, dir) => sqlOver(s, dir, Seq("lineitem"),
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 6) AS sum_qty,
      |  round(sum(l_extendedprice), 6) AS sum_base_price,
      |  round(sum(l_extendedprice * (1 - l_discount)), 6) AS sum_disc_price,
      |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 6) AS sum_charge,
      |  round(avg(l_quantity), 6) AS avg_qty,
      |  round(avg(l_extendedprice), 6) AS avg_price,
      |  round(avg(l_discount), 6) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin)

  private val sqlQ3Shipping: Q = (s, dir) =>
    sqlOver(s, dir, Seq("customer", "orders", "lineitem"),
      """SELECT o_orderkey,
        |  round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < timestamp '1998-03-15 00:00:00'
        |  AND l_shipdate > timestamp '1998-03-15 00:00:00'
        |GROUP BY o_orderkey
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin)

  /** TPC-H Q5 — the 6-table local-supplier-volume join: the deepest join
    * tree in the registry, exactly the shape Catalyst's join reorder +
    * AQE broadcast decisions exist for (region/nation broadcast,
    * fact-side shuffles on the two key chains). */
  private val sqlQ5LocalRevenue: Q = (s, dir) =>
    sqlOver(s, dir,
      Seq("customer", "orders", "lineitem", "supplier", "nation", "region"),
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= timestamp '1996-01-01 00:00:00'
        |  AND o_orderdate < timestamp '1997-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin)

  /** TPC-H Q4 shape — the CORRELATED EXISTS semi-join (count orders by
    * priority that have at least one qualifying line item): Catalyst
    * rewrites the correlated subquery to a left-semi join; late
    * shipment stands in for the absent commit/receipt dates. */
  private val sqlQ4Priority: Q = (s, dir) =>
    sqlOver(s, dir, Seq("orders", "lineitem"),
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= timestamp '1996-07-01 00:00:00'
        |  AND o_orderdate < timestamp '1996-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority""".stripMargin)

  /** TPC-H Q12 shape — the two-branch conditional aggregation over a
    * fact-dimension join (high/low-priority line counts among
    * late-shipped items), per return flag (the shipmode stand-in). */
  private val sqlQ12Shipmode: Q = (s, dir) =>
    sqlOver(s, dir, Seq("orders", "lineitem"),
      """SELECT l_returnflag,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS high_line_count,
        |  sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS low_line_count
        |FROM orders
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate
        |  AND l_shipdate >= timestamp '1997-01-01 00:00:00'
        |  AND l_shipdate < timestamp '1998-01-01 00:00:00'
        |GROUP BY l_returnflag""".stripMargin)

  private val sqlQ6Revenue: Q = (s, dir) => sqlOver(s, dir, Seq("lineitem"),
    """SELECT round(sum(l_extendedprice * l_discount), 6) AS revenue,
      |  count(*) AS n
      |FROM lineitem
      |WHERE l_shipdate >= timestamp '1997-01-01 00:00:00'
      |  AND l_shipdate < timestamp '1998-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin)

  /** A14 — explicit GROUPING SETS: the {(status, priority), (status),
    * (priority)} shape neither ROLLUP (hierarchical) nor CUBE (adds the
    * grand total) expresses — the Dataset.groupingSets API surface beside
    * [[a9Rollup]]. Same one-pass map-side set expansion + single
    * shuffle. */
  private val a14GroupingSets: Q = (s, dir) =>
    t(s, dir, "orders").groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 6).as("total"),
        grouping_id().cast(LongType).as("gid"))

  /** A18 — CUBE: every subset of (priority, status) including the grand
    * total — completes the grouping-set trio beside [[a9Rollup]]
    * (hierarchical) and [[a14GroupingSets]] (explicit list). Same
    * one-pass map-side set expansion + single shuffle. */
  private val a18Cube: Q = (s, dir) =>
    t(s, dir, "orders").cube(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 6).as("total"),
        grouping_id().cast(LongType).as("gid"))

  /** A19 — robust outliers on the median/MAD scale (Hampel's rule) per
    * order status: rows with |price − median| > 2·MAD, both statistics
    * exact lower medians (order statistics — bit-portable, computed by
    * distributed prefix scan, never a per-group window sort). The whole
    * report — median, deviation, MAD and the flag — is hash-checked. */
  private val a19MadOutliers: Q = (s, dir) => Residency.eager { scope =>
    scope.adopt(graft.quality.Quality.madOutliers(
        t(s, dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice"),
        "o_orderstatus", "o_totalprice", k = 2.0))
      .filter(col("outlier") === 1)
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "med", "dev", "mad")
  }

  /** A20 — robust per-status location/scale summary (n, lower median,
    * MAD): the audit face of [[a19MadOutliers]]. */
  private val a20RobustStats: Q = (s, dir) =>
    graft.quality.Quality.robustStats(
      t(s, dir, "orders").select("o_orderstatus", "o_totalprice"),
      "o_orderstatus", "o_totalprice")

  /** A15 — Poisson-bootstrap 90% CI for the mean order price: 50
    * one-pass replicas, exact-cents integer sums, order-statistic
    * percentiles (see [[graft.quality.Quality.bootstrapMeanCI]] — the
    * bootstrap that scales: no per-replica resampling pass, no global
    * coordination, every number exactly SQL-replayable). */
  private val a15BootstrapCi: Q = (s, dir) =>
    graft.quality.Quality.bootstrapMeanCI(t(s, dir, "orders"),
      "o_orderkey", "o_totalprice", replicas = 50)

  /** A10 — moving average: per customer, the mean of the last 3 order
    * totals in (date, key) order — the standard trailing-window analytic.
    * One shuffle on the customer key. */
  private val a10MovingAvg: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-2, org.apache.spark.sql.expressions.Window.currentRow)
    t(s, dir, "orders").select(col("o_orderkey"),
      round(avg(col("o_totalprice")).over(w), 6).as("trailing3_avg"))
  }

  /** W9 — pivot (long → wide): order counts per priority × status, the
    * inverse of the W1/W2 melts. Explicit pivot values keep the plan a
    * single pass (no distinct-values pre-query). */
  private val w9Pivot: Q = (s, dir) =>
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      // a (priority, status) combination with NO rows pivots to NULL,
      // while a FILTERed count (the oracle's formulation, and the
      // conventional answer) is 0 — coalesce so the two cannot diverge
      // on sparser data than the current fixture
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))

  // ------------------------------------------------------------------- maps
  val queries: Map[String, Q] = Map(
    "k10_zorder_scan" -> k10ZorderScan,
    "k11_changeset_apply" -> k11ChangesetApply,
    "j7_anti_join" -> j7AntiJoin,
    "j8_shuffle_hash_join" -> j8ShuffleHashJoin,
    "j9_semi_join" -> j9SemiJoin,
    "j10_fuzzy_join" -> j10FuzzyJoin,
    "j11_er_clusters" -> j11ErClusters,
    "a14_grouping_sets" -> a14GroupingSets,
    "a15_bootstrap_ci" -> a15BootstrapCi,
    "a18_cube" -> a18Cube,
    "a19_mad_outliers" -> a19MadOutliers,
    "a20_robust_stats" -> a20RobustStats,
    "a21_percentiles" -> a21Percentiles,
    "sql_q1_pricing" -> sqlQ1Pricing,
    "sql_q3_shipping" -> sqlQ3Shipping,
    "sql_q5_local_revenue" -> sqlQ5LocalRevenue,
    "sql_q6_revenue" -> sqlQ6Revenue,
    "sql_q4_priority" -> sqlQ4Priority,
    "sql_q12_shipmode" -> sqlQ12Shipmode,
    "a9_rollup" -> a9Rollup,
    "a10_moving_avg" -> a10MovingAvg,
    "w9_pivot" -> w9Pivot,
    "j6_bloom_prune" -> j6BloomPrune,
    "w7_snapshot_diff" -> w7SnapshotDiff,
    "w14_merkle_diff" -> w14MerkleDiff,
    "f11_winsorize" -> f11Winsorize,
    "s1_xlsx_scan" -> s1XlsxScan,
    "s7_xml_scan" -> s7XmlScan,
    "s2_csv_scan" -> s2CsvScan,
    "s3_csv_charset" -> s3CsvCharset,
    "s4_json_table" -> s4JsonTable,
    "s5_jdbc_scan" -> s5JdbcScan,
    "s6_jdbc_limit" -> s6JdbcLimit,
    "k1_csv_roundtrip" -> k1CsvRoundtrip,
    "k2_ddl_synthesis" -> k2DdlSynthesis,
    "k3_jdbc_full_refresh" -> k3FullRefresh,
    "k4_profile_sink" -> k4ProfileSink,
    "k6_orc_roundtrip" -> k6OrcRoundtrip,
    "k7_partitioned_scan" -> k7PartitionedScan,
    "k12_compact_layout" -> k12CompactLayout,
    "r1_skip_leading" -> r1SkipLeading,
    "r2_footer_drop" -> r2FooterDrop,
    "r3_drop_column" -> r3DropColumn,
    "r4_header_promote" -> r4HeaderPromote,
    "p1_projection" -> p1Projection,
    "p2_rename" -> p2Rename,
    "p3_normalize_columns" -> p3NormalizeColumns,
    "p4_filter" -> p4Filter,
    "f1_fips_pad" -> f1FipsPad,
    "f2_currency_parse" -> f2CurrencyParse,
    "f3_lenient_cast" -> f3LenientCast,
    "f4_strip_quotes" -> f4StripQuotes,
    "f5_trim" -> f5Trim,
    "f6_strip_chars" -> f6StripChars,
    "f7_scale" -> f7Scale,
    "f8_ratio_nan_mean" -> f8RatioNanMean,
    "f9_int_cast" -> f9IntCast,
    "f10_coalesce_backfill" -> f10Coalesce,
    "w1_unpivot_orders" -> w1UnpivotOrders,
    "w2_unpivot_lineitem" -> w2UnpivotLineitem,
    "w3_dedup_distinct" -> w3DedupDistinct,
    "w3_dedup_keys" -> w3DedupKeys,
    "w3_dedup_keys_agg" -> w3DedupKeysAgg,
    "w4_train_split" -> w4TrainSplit,
    "j1_full_outer_coalesce" -> j1FullOuter,
    "j2_broadcast_3col_join" -> j2Broadcast3col,
    "j3_name_join_customer" -> j3NameJoinCustomer,
    "j4_name_join_supplier" -> j4NameJoinSupplier,
    "j5_salted_join" -> j5SaltedJoin,
    "k5_bucketed_join" -> k5BucketedJoin,
    "a1_groupby_mean" -> a1GroupbyMean,
    "a3_duplicate_count" -> a3DuplicateCount,
    "a4_null_key_count" -> a4NullKeyCount,
    "a5_pk_gate" -> a5PkGate,
    "a6_surrogate_key" -> a6SurrogateKey,
    "a7_expectations" -> a7Expectations,
    "a8_key_skew" -> a8KeySkew,
    "l1_limit" -> l1Limit,
    "l2_pagination" -> l2Pagination,
    "pr1_missing" -> pr1Missing,
    "pr2_distinct" -> pr2Distinct,
    "pr3_moments" -> pr3Moments,
    "pr4_quantiles" -> pr4Quantiles,
    "pr5_dup_rows" -> pr5DupRows,
    "pr7_histogram" -> pr7Histogram,
    "pr6_correlation" -> pr6Correlation,
    "pr8_frequent" -> pr8Frequent,
    "pr9_frequent_numeric" -> pr9FrequentNumeric,
    "pr13_alerts" -> pr13Alerts,
    "pr14_spearman" -> pr14Spearman,
    "pr15_cramers_v" -> pr15CramersV,
    "pr16_dup_rows" -> pr16DupRows,
    "pr17_phik" -> pr17Phik,
    "pr18_spearman_matrix" -> pr18SpearmanMatrix,
    "pr19_phik_interval" -> pr19PhikInterval,
    "pr20_binned_chi2" -> pr20BinnedChi2,
    "pr21_nullity" -> pr21Nullity,
    "pr22_interactions" -> pr22Interactions,
    "pr23_kappa" -> pr23Kappa,
    "pr24_kappa_weighted" -> pr24KappaWeighted)

  val oracle: Map[String, String] = Map(
    "k11_changeset_apply" ->
      """SELECT o_orderkey,
        | ROUND(CASE WHEN o_orderkey % 100 = 2
        |   THEN o_totalprice * CAST(1.1 AS DOUBLE)
        |   ELSE o_totalprice END, 6) AS price
        |FROM orders WHERE o_orderkey % 100 <> 1""".stripMargin,
    "k10_zorder_scan" ->
      """SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
        | ROUND(sum(l_quantity), 6) AS sum_qty
        |FROM lineitem WHERE l_suppkey <= 10 GROUP BY 1""".stripMargin,
    "j7_anti_join" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_custkey NOT IN (
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 470000)""".stripMargin,
    "j9_semi_join" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_custkey IN (
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 470000)""".stripMargin,
    // Brute-force cross join + levenshtein filter: the engine's q-gram
    // prefix blocking must reproduce the UNBLOCKED answer exactly, so a
    // hash match certifies candidate-generation completeness.
    "j10_fuzzy_join" ->
      """WITH names AS (SELECT p_name AS left_name,
        |   min(p_partkey) AS left_id FROM part GROUP BY 1),
        |vars AS (SELECT p_partkey AS right_id,
        |   CASE WHEN p_partkey % 3 = 0 THEN substring(p_name, 2)
        |        WHEN p_partkey % 3 = 1 THEN p_name || 'x'
        |        ELSE p_name END AS right_name
        |  FROM part WHERE p_partkey < 500)
        |SELECT left_id, left_name, right_id, right_name,
        |  CAST(levenshtein(left_name, right_name) AS INTEGER) AS dist
        |FROM names, vars
        |WHERE length(left_name) >= 6 AND length(right_name) >= 6
        |  AND levenshtein(left_name, right_name) <= 1""".stripMargin,
    // Unblocked pairing + recursive min-reachable-id closure — the
    // dd_components oracle pattern over fuzzy-match edges.
    "j11_er_clusters" ->
      """WITH RECURSIVE
        |names AS (SELECT min(p_partkey) AS id, p_name AS name
        |  FROM part GROUP BY p_name),
        |vars AS (SELECT p_partkey + 1000000 AS id,
        |   CASE WHEN p_partkey % 3 = 0 THEN substring(p_name, 2)
        |        WHEN p_partkey % 3 = 1 THEN p_name || 'x'
        |        ELSE p_name END AS name
        |  FROM part WHERE p_partkey < 500),
        |ents AS (SELECT id, name FROM names
        |  UNION ALL SELECT id, name FROM vars),
        |pairs AS (SELECT a.id AS ia, b.id AS ib FROM ents a, ents b
        |  WHERE a.id < b.id AND length(a.name) >= 6 AND length(b.name) >= 6
        |    AND levenshtein(a.name, b.name) <= 1),
        |edges AS (SELECT ia AS a, ib AS b FROM pairs
        |  UNION ALL SELECT ib, ia FROM pairs),
        |reach AS (SELECT id, id AS lbl FROM ents
        |  UNION
        |  SELECT e.b AS id, r.lbl AS lbl FROM reach r JOIN edges e ON e.a = r.id)
        |SELECT CAST(id AS BIGINT) AS id, CAST(min(lbl) AS BIGINT) AS cluster_id,
        |  CAST(CASE WHEN id = min(lbl) THEN 1 ELSE 0 END AS INTEGER) AS kept
        |FROM reach GROUP BY id""".stripMargin,
    // the SHUFFLE_HASH hint is physical-plan-only; logical results are
    // the plain join's.
    "j8_shuffle_hash_join" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        | ROUND(sum(l_quantity), 6) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,
    // DuckDB GROUPING() returns the same (first arg = MSB) bitmask as
    // Spark's grouping_id().
    "a9_rollup" ->
      """SELECT o_orderpriority, o_orderstatus,
        | CAST(count(*) AS BIGINT) AS n,
        | ROUND(sum(o_totalprice), 6) AS total,
        | CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid
        |FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)""".stripMargin,
    "a18_cube" ->
      """SELECT o_orderpriority, o_orderstatus,
        | CAST(count(*) AS BIGINT) AS n,
        | ROUND(sum(o_totalprice), 6) AS total,
        | CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid
        |FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)""".stripMargin,
    // Nearest-rank percentiles: smallest value with 100·cc >= p·n over
    // within-group cumulative counts — all integer comparisons, every
    // output an actual data value.
    "a21_percentiles" ->
      """WITH c AS (SELECT o_orderstatus g, o_totalprice v, count(*) c
        |  FROM orders GROUP BY 1, 2),
        |cum AS (SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v) cc FROM c),
        |n AS (SELECT g, CAST(sum(c) AS BIGINT) n FROM c GROUP BY 1)
        |SELECT n.g AS o_orderstatus, n.n,
        |  (SELECT min(v) FROM cum WHERE cum.g = n.g AND 100 * cc >= 25 * n.n) AS p25,
        |  (SELECT min(v) FROM cum WHERE cum.g = n.g AND 100 * cc >= 50 * n.n) AS p50,
        |  (SELECT min(v) FROM cum WHERE cum.g = n.g AND 100 * cc >= 75 * n.n) AS p75,
        |  (SELECT min(v) FROM cum WHERE cum.g = n.g AND 100 * cc >= 90 * n.n) AS p90,
        |  (SELECT min(v) FROM cum WHERE cum.g = n.g AND 100 * cc >= 99 * n.n) AS p99
        |FROM n""".stripMargin,
    // The spark.sql face shares its text with the oracle verbatim up to
    // dialect-neutral ANSI (both engines parse these unchanged).
    "sql_q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 6) AS sum_qty,
        |  round(sum(l_extendedprice), 6) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 6) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 6) AS sum_charge,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  round(avg(l_extendedprice), 6) AS avg_price,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "sql_q3_shipping" ->
      """SELECT o_orderkey,
        |  round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < timestamp '1998-03-15 00:00:00'
        |  AND l_shipdate > timestamp '1998-03-15 00:00:00'
        |GROUP BY o_orderkey
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin,
    "sql_q5_local_revenue" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= timestamp '1996-01-01 00:00:00'
        |  AND o_orderdate < timestamp '1997-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin,
    "sql_q6_revenue" ->
      """SELECT round(sum(l_extendedprice * l_discount), 6) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |WHERE l_shipdate >= timestamp '1997-01-01 00:00:00'
        |  AND l_shipdate < timestamp '1998-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "sql_q4_priority" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= timestamp '1996-07-01 00:00:00'
        |  AND o_orderdate < timestamp '1996-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority""".stripMargin,
    "sql_q12_shipmode" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate
        |  AND l_shipdate >= timestamp '1997-01-01 00:00:00'
        |  AND l_shipdate < timestamp '1998-01-01 00:00:00'
        |GROUP BY l_returnflag""".stripMargin,
    "a20_robust_stats" ->
      """WITH c AS (SELECT o_orderstatus g, o_totalprice v, count(*) c
        |  FROM orders GROUP BY 1, 2),
        |cum AS (SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v) cc FROM c),
        |n AS (SELECT g, CAST(sum(c) AS BIGINT) n FROM c GROUP BY 1),
        |med AS (SELECT g, min(v) med FROM cum JOIN n USING (g)
        |  WHERE 2 * cc >= n GROUP BY g),
        |d AS (SELECT o_orderstatus g, abs(o_totalprice - med) dev
        |  FROM orders JOIN med ON g = o_orderstatus),
        |dc AS (SELECT g, dev, count(*) c FROM d GROUP BY 1, 2),
        |dcum AS (SELECT g, dev, sum(c) OVER (PARTITION BY g ORDER BY dev) cc
        |  FROM dc),
        |dn AS (SELECT g, sum(c) n FROM dc GROUP BY 1),
        |mad AS (SELECT g, min(dev) mad FROM dcum JOIN dn USING (g)
        |  WHERE 2 * cc >= n GROUP BY g)
        |SELECT n.g AS o_orderstatus, n.n, med.med, mad.mad
        |FROM n JOIN med USING (g) JOIN mad USING (g)""".stripMargin,
    // Lower medians as order statistics (2·cc >= n over within-group
    // cumulative counts) — never an interpolated midpoint; dev and the
    // 2·MAD comparison are single IEEE ops on exact inputs.
    "a19_mad_outliers" ->
      """WITH c AS (SELECT o_orderstatus g, o_totalprice v, count(*) c
        |  FROM orders GROUP BY 1, 2),
        |cum AS (SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v) cc FROM c),
        |n AS (SELECT g, sum(c) n FROM c GROUP BY 1),
        |med AS (SELECT g, min(v) med FROM cum JOIN n USING (g)
        |  WHERE 2 * cc >= n GROUP BY g),
        |d AS (SELECT o_orderkey, o_orderstatus g, o_totalprice v,
        |   abs(o_totalprice - med) dev, med
        |  FROM orders JOIN med ON g = o_orderstatus),
        |dc AS (SELECT g, dev, count(*) c FROM d GROUP BY 1, 2),
        |dcum AS (SELECT g, dev, sum(c) OVER (PARTITION BY g ORDER BY dev) cc
        |  FROM dc),
        |dn AS (SELECT g, sum(c) n FROM dc GROUP BY 1),
        |mad AS (SELECT g, min(dev) mad FROM dcum JOIN dn USING (g)
        |  WHERE 2 * cc >= n GROUP BY g)
        |SELECT d.o_orderkey, d.g AS o_orderstatus, d.v AS o_totalprice,
        |  d.med, d.dev, m.mad
        |FROM d JOIN mad m USING (g) WHERE d.dev > 2 * m.mad""".stripMargin,
    // bootstrap replay: same md5-uniform, the SAME Poisson CDF double
    // literals (shared Scala constant — computing e^-1/k! cross-engine
    // would reintroduce the transcendental hazard), exact-cents sums,
    // identical order-statistic indices.
    "a15_bootstrap_ci" -> {
      val ladder = graft.quality.Quality.PoissonCdf.zipWithIndex
        .map { case (t, i) => s"WHEN u < $t THEN $i" }.mkString(" ")
      def hx(i: Int) = s"(strpos('0123456789abcdef', substring(h, $i, 1)) - 1)"
      raw"""WITH x AS (SELECT r,
           |  CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
           |  md5(CAST(o_orderkey AS VARCHAR) || '_' || CAST(r AS VARCHAR)
           |    || '_42') AS h
           |  FROM orders, LATERAL (SELECT unnest(generate_series(0, 49)) AS r)),
           |wts AS (SELECT r, cents, CASE $ladder ELSE 6 END AS w
           |  FROM (SELECT r, cents,
           |    (((${hx(1)} * 16 + ${hx(2)}) * 16 + ${hx(3)}) * 16 + ${hx(4)})
           |      / 65536.0 AS u FROM x)),
           |rep AS (SELECT r, sum(w) AS nw, sum(w * cents) AS sw
           |  FROM wts GROUP BY r HAVING sum(w) > 0),
           |means AS (SELECT r,
           |  CAST(sw AS DOUBLE) / CAST(nw * 100 AS DOUBLE) AS mean_r FROM rep),
           |ord AS (SELECT mean_r, row_number() OVER (ORDER BY mean_r, r) AS rn,
           |  CAST(count(*) OVER () AS BIGINT) AS b FROM means)
           |SELECT b,
           |  max(CASE WHEN rn = CAST(greatest(1, ceil(b * 0.05)) AS INTEGER)
           |    THEN mean_r END) AS p05,
           |  max(CASE WHEN rn = CAST(greatest(1, ceil(b * 0.5)) AS INTEGER)
           |    THEN mean_r END) AS p50,
           |  max(CASE WHEN rn = CAST(greatest(1, ceil(b * 0.95)) AS INTEGER)
           |    THEN mean_r END) AS p95
           |FROM ord GROUP BY b""".stripMargin
    },
    "a14_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        | CAST(count(*) AS BIGINT) AS n,
        | ROUND(sum(o_totalprice), 6) AS total,
        | CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
        |FROM orders GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |  (o_orderstatus), (o_orderpriority))""".stripMargin,
    "a10_moving_avg" ->
      """SELECT o_orderkey, ROUND(AVG(o_totalprice) OVER (
        |  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS trailing3_avg
        |FROM orders""".stripMargin,
    "w9_pivot" ->
      """SELECT o_orderpriority,
        | CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_f,
        | CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS n_o,
        | CAST(count(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS n_p
        |FROM orders GROUP BY 1""".stripMargin,
    "j6_bloom_prune" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        | ROUND(sum(l_quantity), 6) AS sum_qty
        |FROM lineitem WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders WHERE o_totalprice > 470000)
        |GROUP BY 1""".stripMargin,
    "w7_snapshot_diff" ->
      """WITH olds AS (SELECT o_orderkey, o_totalprice FROM orders
        |   WHERE o_orderkey % 100 <> 0),
        | news AS (SELECT o_orderkey,
        |   CASE WHEN o_orderkey % 100 = 2
        |        THEN o_totalprice * CAST(1.1 AS DOUBLE)
        |        ELSE o_totalprice END AS o_totalprice
        |   FROM orders WHERE o_orderkey % 100 <> 1)
        |SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        | CASE WHEN o.o_orderkey IS NULL THEN 'insert'
        |      WHEN n.o_orderkey IS NULL THEN 'delete'
        |      ELSE 'update' END AS change_type,
        | ROUND(o.o_totalprice, 6) AS old_price,
        | ROUND(n.o_totalprice, 6) AS new_price
        |FROM olds o FULL OUTER JOIN news n ON n.o_orderkey = o.o_orderkey
        |WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
        |   OR o.o_totalprice <> n.o_totalprice""".stripMargin,
    // merkle replay: same 16-bit-md5 bucket and 40-bit-md5 digest
    // arithmetic; BIGINT sums are order-independent, so partial
    // aggregation order can't perturb the hash.
    "w14_merkle_diff" ->
      raw"""WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus FROM orders),
           |olds AS (SELECT * FROM o WHERE o_orderkey % 100 <> 0),
           |news AS (SELECT o_orderkey,
           |  CASE WHEN o_orderkey % 100 = 2 THEN o_custkey + 7
           |       ELSE o_custkey END AS o_custkey, o_orderstatus
           |  FROM o WHERE o_orderkey % 100 <> 1),
           |sa AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_a,
           |    sum(dig) AS digest_a FROM (
           |  SELECT ((((strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) * 16
           |    + (strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 2, 1)) - 1)) * 16
           |    + (strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 3, 1)) - 1)) * 16
           |    + (strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 4, 1)) - 1)) % 64 AS bucket,
           |   CAST(list_sum(list_transform(generate_series(1, 10), i ->
           |     CAST(strpos('0123456789abcdef', substring(md5(
           |       concat_ws(chr(1), CAST(o_orderkey AS VARCHAR),
           |         CAST(o_custkey AS VARCHAR), o_orderstatus)), i, 1)) - 1 AS BIGINT)
           |     << ((10 - i) * 4))) AS BIGINT) AS dig
           |  FROM olds) GROUP BY 1),
           |sb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_b,
           |    sum(dig) AS digest_b FROM (
           |  SELECT ((((strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) * 16
           |    + (strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 2, 1)) - 1)) * 16
           |    + (strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 3, 1)) - 1)) * 16
           |    + (strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 4, 1)) - 1)) % 64 AS bucket,
           |   CAST(list_sum(list_transform(generate_series(1, 10), i ->
           |     CAST(strpos('0123456789abcdef', substring(md5(
           |       concat_ws(chr(1), CAST(o_orderkey AS VARCHAR),
           |         CAST(o_custkey AS VARCHAR), o_orderstatus)), i, 1)) - 1 AS BIGINT)
           |     << ((10 - i) * 4))) AS BIGINT) AS dig
           |  FROM news) GROUP BY 1)
           |SELECT CAST(COALESCE(sa.bucket, sb.bucket) AS INTEGER) AS bucket, n_a,
           |  CAST(digest_a AS BIGINT) AS digest_a, n_b,
           |  CAST(digest_b AS BIGINT) AS digest_b,
           |  CASE WHEN n_a IS NULL THEN 'only_b'
           |       WHEN n_b IS NULL THEN 'only_a'
           |       WHEN n_a = n_b AND digest_a = digest_b THEN 'same'
           |       ELSE 'changed' END AS status
           |FROM sa FULL OUTER JOIN sb ON sa.bucket = sb.bucket""".stripMargin,
    "f11_winsorize" ->
      """WITH p AS (SELECT quantile_cont(o_totalprice, 0.05) AS p05,
        |   quantile_cont(o_totalprice, 0.95) AS p95 FROM orders)
        |SELECT o_orderkey,
        | ROUND(LEAST(GREATEST(o_totalprice, p05), p95), 6) AS price_w
        |FROM orders, p""".stripMargin,
    "s1_xlsx_scan" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "s7_xml_scan" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "s2_csv_scan" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "s3_csv_charset" ->
      "SELECT n_nationkey, n_name || chr(8211) AS tagged_name FROM nation",
    "s4_json_table" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        | CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation""".stripMargin,
    "s5_jdbc_scan" ->
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
    "s6_jdbc_limit" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey LIMIT 3",
    "k1_csv_roundtrip" ->
      "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",
    "k2_ddl_synthesis" ->
      """SELECT * FROM (VALUES
        | ('o_orderkey', 'BIGINT'), ('o_custkey', 'BIGINT'),
        | ('o_orderstatus', 'TEXT'), ('o_totalprice', 'DOUBLE PRECISION'),
        | ('o_orderdate', 'TIMESTAMP'), ('o_orderpriority', 'TEXT'))
        | AS t(col_name, ddl_type)""".stripMargin,
    "k3_jdbc_full_refresh" ->
      "SELECT r_regionkey, r_name FROM region",
    "k6_orc_roundtrip" ->
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
    "k7_partitioned_scan" ->
      "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'O'",
    "k12_compact_layout" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders GROUP BY 1""".stripMargin,
    "k4_profile_sink" ->
      """SELECT 'r_regionkey' AS col_name, CAST(count(r_regionkey) AS BIGINT) AS cnt,
        | CAST(sum(CASE WHEN r_regionkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS missing,
        | CAST(count(DISTINCT r_regionkey) AS BIGINT) AS n_distinct FROM region
        |UNION ALL
        |SELECT 'r_name', CAST(count(r_name) AS BIGINT),
        | CAST(sum(CASE WHEN r_name IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        | CAST(count(DISTINCT r_name) AS BIGINT) FROM region""".stripMargin,
    "r1_skip_leading" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        | WHERE n_nationkey NOT IN
        | (SELECT n_nationkey FROM nation ORDER BY n_nationkey LIMIT 2)""".stripMargin,
    "r2_footer_drop" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        | WHERE n_nationkey NOT IN
        | (SELECT n_nationkey FROM nation ORDER BY n_nationkey DESC LIMIT 2)""".stripMargin,
    "r3_drop_column" ->
      "SELECT n_nationkey, n_name FROM nation",
    "r4_header_promote" ->
      "SELECT CAST(r_regionkey AS VARCHAR) AS key, r_name AS name FROM region",
    "p1_projection" ->
      "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem",
    "p2_rename" ->
      "SELECT o_orderkey, o_totalprice AS total_price, o_orderstatus AS status FROM orders",
    "p3_normalize_columns" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "p4_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem
        | WHERE l_quantity > 45 AND l_returnflag = 'R'""".stripMargin,
    "f1_fips_pad" ->
      "SELECT n_nationkey, lpad(CAST(n_nationkey AS VARCHAR), 5, '0') AS fips FROM nation",
    "f2_currency_parse" ->
      "SELECT o_orderkey, o_totalprice AS parsed_price FROM orders",
    "f3_lenient_cast" ->
      """SELECT o_orderkey,
        | CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_totalprice END AS lenient_price
        | FROM orders""".stripMargin,
    "f4_strip_quotes" ->
      "SELECT n_nationkey, n_name AS unquoted FROM nation",
    "f5_trim" ->
      "SELECT n_nationkey, n_name AS trimmed FROM nation",
    "f6_strip_chars" ->
      "SELECT n_nationkey, n_name AS cleaned FROM nation",
    "f7_scale" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice * 1000000.0 AS price_scaled
        | FROM lineitem""".stripMargin,
    "f8_ratio_nan_mean" ->
      """SELECT l_returnflag,
        | ROUND(AVG(CASE WHEN l_orderkey % 7 = 0 THEN NULL
        |   ELSE l_discount / l_quantity END), 6) AS mean_ratio
        | FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "f9_int_cast" ->
      """SELECT l_orderkey, l_linenumber, CAST(l_quantity AS INTEGER) AS qty_int
        | FROM lineitem""".stripMargin,
    "f10_coalesce_backfill" ->
      """SELECT c.c_nationkey, COALESCE(n.n_name, 'UNKNOWN') AS name
        | FROM (SELECT DISTINCT c_nationkey FROM customer) c
        | LEFT JOIN (SELECT n_nationkey, n_name FROM nation WHERE n_regionkey < 2) n
        |   ON c.c_nationkey = n.n_nationkey""".stripMargin,
    // the engine pivots the EXPLICIT 1995-2001 year window (a single-pass
    // plan needs literal pivot values); the oracles carry the same window
    // so neither side silently drops rows if the data's date range ever
    // widens beyond the fixture's.
    "w1_unpivot_orders" ->
      """SELECT o_custkey, CAST(year(o_orderdate) AS INTEGER) AS yr,
        | ROUND(SUM(o_totalprice), 2) AS total
        | FROM orders WHERE year(o_orderdate) BETWEEN 1995 AND 2001
        | GROUP BY o_custkey, year(o_orderdate)""".stripMargin,
    "w2_unpivot_lineitem" ->
      """SELECT l_suppkey, CAST(year(l_shipdate) AS INTEGER) AS yr,
        | CAST(count(*) AS BIGINT) AS n
        | FROM lineitem WHERE year(l_shipdate) BETWEEN 1995 AND 2001
        | GROUP BY l_suppkey, year(l_shipdate)""".stripMargin,
    "w3_dedup_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "w3_dedup_keys" ->
      """SELECT o_custkey, o_orderkey FROM (
        | SELECT o_custkey, o_orderkey,
        |   row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
        | FROM orders) WHERE rn = 1""".stripMargin,
    "w3_dedup_keys_agg" ->
      """SELECT o_custkey, o_orderkey FROM (
        | SELECT o_custkey, o_orderkey,
        |   row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
        | FROM orders) WHERE rn = 1""".stripMargin,
    "w4_train_split" ->
      """SELECT CASE WHEN b < 800 THEN 'train' WHEN b < 900 THEN 'val'
        |   ELSE 'test' END AS split, count(*) AS cnt
        |FROM (SELECT CAST(FLOOR(((o_orderkey % 1000003) * 2654435761) / 1048576.0)
        |        AS BIGINT) % 1000 AS b
        |      FROM orders)
        |GROUP BY 1""".stripMargin,
    "j1_full_outer_coalesce" ->
      """SELECT COALESCE(a.k, b.k) AS geo_key, COALESCE(a.n_name, 'NONE') AS name,
        | b.k IS NOT NULL AS in_customers
        | FROM (SELECT n_nationkey AS k, n_name FROM nation WHERE n_regionkey < 2) a
        | FULL OUTER JOIN
        |   (SELECT DISTINCT c_nationkey AS k FROM customer WHERE c_nationkey >= 5) b
        |   ON a.k = b.k""".stripMargin,
    "j2_broadcast_3col_join" ->
      """SELECT p.p_partkey, d.sk_id FROM part p JOIN (
        | SELECT p_brand, p_type, p_size,
        |   CAST(row_number() OVER (ORDER BY p_brand, p_type, p_size) - 1 AS BIGINT) AS sk_id
        | FROM (SELECT DISTINCT p_brand, p_type, p_size FROM part)) d
        | USING (p_brand, p_type, p_size)""".stripMargin,
    "j3_name_join_customer" ->
      """SELECT c_custkey, n.n_name FROM customer c
        | JOIN nation n ON c.c_nationkey = n.n_nationkey
        | WHERE n.n_regionkey < 3""".stripMargin,
    "j4_name_join_supplier" ->
      """SELECT s_suppkey, n.n_name FROM supplier s
        | JOIN nation n ON s.s_nationkey = n.n_nationkey
        | WHERE n.n_regionkey IN (0, 2, 4)""".stripMargin,
    "j5_salted_join" ->
      """SELECT l_orderkey, l_suppkey, l_quantity, s_name
        | FROM lineitem JOIN supplier ON l_suppkey = s_suppkey""".stripMargin,
    "k5_bucketed_join" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, c_mktsegment
        | FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin,
    "a1_groupby_mean" ->
      """SELECT l_returnflag, l_linestatus,
        | ROUND(AVG(l_quantity), 6) AS mean_qty,
        | ROUND(SUM(l_extendedprice), 2) AS sum_price,
        | CAST(count(*) AS BIGINT) AS n
        | FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "a3_duplicate_count" ->
      """SELECT CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT) AS excess_dup_rows FROM
        | (SELECT count(*) AS cnt FROM lineitem GROUP BY l_orderkey) WHERE cnt > 1""".stripMargin,
    "a4_null_key_count" ->
      """SELECT CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        | AS null_keys FROM orders""".stripMargin,
    "a5_pk_gate" ->
      """SELECT 'orders' AS table_name, CAST(0 AS BIGINT) AS null_keys,
        | CAST(0 AS BIGINT) AS dup_keys, CAST(count(*) AS BIGINT) AS n_rows
        | FROM orders""".stripMargin,
    "a6_surrogate_key" ->
      """SELECT p_brand, p_type, p_size,
        | CAST(row_number() OVER (ORDER BY p_brand, p_type, p_size) - 1 AS BIGINT) AS sk_id
        | FROM (SELECT DISTINCT p_brand, p_type, p_size FROM part)""".stripMargin,
    "a7_expectations" ->
      """SELECT 'orderkey_not_null' AS expectation,
        |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violations FROM orders
        |UNION ALL SELECT 'totalprice_positive',
        |  CAST(sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS BIGINT) FROM orders
        |UNION ALL SELECT 'status_in_domain',
        |  CAST(sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END) AS BIGINT)
        |  FROM orders
        |UNION ALL SELECT 'priority_nonempty',
        |  CAST(sum(CASE WHEN length(o_orderpriority) > 0 THEN 0 ELSE 1 END) AS BIGINT)
        |  FROM orders""".stripMargin,
    "a8_key_skew" ->
      """SELECT CAST(l_suppkey AS VARCHAR) AS key, cnt,
        |  ROUND(CAST(cnt AS DOUBLE) / (SELECT count(*) FROM lineitem), 6) AS share
        |FROM (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS cnt
        |      FROM lineitem GROUP BY l_suppkey)
        |ORDER BY cnt DESC, key LIMIT 10""".stripMargin,
    "l1_limit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        | ORDER BY o_orderkey LIMIT 10""".stripMargin,
    "l2_pagination" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        | ORDER BY o_orderkey LIMIT 20 OFFSET 100""".stripMargin,
    "pr1_missing" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(count(p) AS BIGINT) AS n_present,
        | CAST(SUM(CASE WHEN p IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
        | FROM (SELECT CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_totalprice END AS p
        |       FROM orders)""".stripMargin,
    "pr2_distinct" ->
      """SELECT CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_segments,
        | CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations FROM customer""".stripMargin,
    "pr3_moments" ->
      """WITH mu AS (SELECT avg(l_extendedprice) AS m FROM lineitem)
        |SELECT ROUND(AVG(l_extendedprice), 6) AS mean_price,
        | ROUND(stddev(l_extendedprice), 6) AS std_price,
        | min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
        | ROUND(avg(pow(l_extendedprice - m, 3)) / pow(avg(pow(l_extendedprice - m, 2)), 1.5), 6)
        |   AS skew_price,
        | ROUND(avg(pow(l_extendedprice - m, 4)) / pow(avg(pow(l_extendedprice - m, 2)), 2) - 3, 6)
        |   AS kurt_price
        | FROM lineitem, mu""".stripMargin,
    "pr7_histogram" ->
      """SELECT CAST(FLOOR((l_quantity - 1) / 5) + 1 AS BIGINT) AS bucket,
        | count(*) AS cnt FROM lineitem GROUP BY 1""".stripMargin,
    "pr4_quantiles" ->
      """SELECT ROUND(quantile_cont(l_quantity, 0.25), 6) AS q1,
        | ROUND(quantile_cont(l_quantity, 0.5), 6) AS q2,
        | ROUND(quantile_cont(l_quantity, 0.75), 6) AS q3 FROM lineitem""".stripMargin,
    "pr5_dup_rows" ->
      """SELECT CAST((SELECT count(*) FROM lineitem) -
        | (SELECT count(*) FROM (SELECT DISTINCT * FROM lineitem)) AS BIGINT)
        | AS dup_rows""".stripMargin,
    "pr6_correlation" ->
      """SELECT ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        | ROUND(corr(l_discount, l_tax), 6) AS corr_disc_tax FROM lineitem""".stripMargin,
    // Spearman replay: doubled average ranks from per-value counts + a
    // running sum over distinct values (the engine's prefix scan,
    // collapsed to a window here), then rho from HUGEINT sufficient
    // sums through the same few double ops at ROUND 6
    "pr14_spearman" ->
      """WITH b1 AS (SELECT l_quantity AS x, l_extendedprice AS y
        |  FROM lineitem WHERE l_quantity IS NOT NULL
        |    AND l_extendedprice IS NOT NULL),
        |c1x AS (SELECT x AS v, count(*) AS cnt FROM b1 GROUP BY 1),
        |r1x AS (SELECT v, 2 * SUM(cnt) OVER (ORDER BY v) - cnt + 1 AS r2
        |  FROM c1x),
        |c1y AS (SELECT y AS v, count(*) AS cnt FROM b1 GROUP BY 1),
        |r1y AS (SELECT v, 2 * SUM(cnt) OVER (ORDER BY v) - cnt + 1 AS r2
        |  FROM c1y),
        |j1 AS (SELECT rx.r2 AS ra, ry.r2 AS rb FROM b1
        |  JOIN r1x rx ON b1.x = rx.v JOIN r1y ry ON b1.y = ry.v),
        |s1 AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |  CAST(SUM(ra) AS HUGEINT) AS sx, CAST(SUM(rb) AS HUGEINT) AS sy,
        |  SUM(CAST(ra AS HUGEINT) * ra) AS sxx,
        |  SUM(CAST(rb AS HUGEINT) * rb) AS syy,
        |  SUM(CAST(ra AS HUGEINT) * rb) AS sxy FROM j1),
        |b2 AS (SELECT l_discount AS x, l_tax AS y FROM lineitem
        |  WHERE l_discount IS NOT NULL AND l_tax IS NOT NULL),
        |c2x AS (SELECT x AS v, count(*) AS cnt FROM b2 GROUP BY 1),
        |r2x AS (SELECT v, 2 * SUM(cnt) OVER (ORDER BY v) - cnt + 1 AS r2
        |  FROM c2x),
        |c2y AS (SELECT y AS v, count(*) AS cnt FROM b2 GROUP BY 1),
        |r2y AS (SELECT v, 2 * SUM(cnt) OVER (ORDER BY v) - cnt + 1 AS r2
        |  FROM c2y),
        |j2 AS (SELECT rx.r2 AS ra, ry.r2 AS rb FROM b2
        |  JOIN r2x rx ON b2.x = rx.v JOIN r2y ry ON b2.y = ry.v),
        |s2 AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |  CAST(SUM(ra) AS HUGEINT) AS sx, CAST(SUM(rb) AS HUGEINT) AS sy,
        |  SUM(CAST(ra AS HUGEINT) * ra) AS sxx,
        |  SUM(CAST(rb AS HUGEINT) * rb) AS syy,
        |  SUM(CAST(ra AS HUGEINT) * rb) AS sxy FROM j2)
        |SELECT CAST(s1.n AS BIGINT) AS n,
        |  ROUND(CAST(s1.n * s1.sxy - s1.sx * s1.sy AS DOUBLE)
        |    / SQRT(CAST(s1.n * s1.sxx - s1.sx * s1.sx AS DOUBLE)
        |      * CAST(s1.n * s1.syy - s1.sy * s1.sy AS DOUBLE)), 6)
        |    AS rho_qty_price,
        |  ROUND(CAST(s2.n * s2.sxy - s2.sx * s2.sy AS DOUBLE)
        |    / SQRT(CAST(s2.n * s2.sxx - s2.sx * s2.sx AS DOUBLE)
        |      * CAST(s2.n * s2.syy - s2.sy * s2.sy AS DOUBLE)), 6)
        |    AS rho_disc_tax
        |FROM s1, s2""".stripMargin,
    // Cramér's V replay: full contingency grid (zero cells included),
    // per-cell χ² terms rounded 6 then summed as DECIMAL — associative,
    // like the engine
    "pr15_cramers_v" ->
      """WITH base AS (SELECT CAST(o_orderstatus AS VARCHAR) AS a,
        |  CAST(o_orderpriority AS VARCHAR) AS b FROM orders
        |  WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL),
        |obs AS (SELECT a, b, count(*) AS o FROM base GROUP BY 1, 2),
        |ra AS (SELECT a, sum(o) AS rt FROM obs GROUP BY 1),
        |cb AS (SELECT b, sum(o) AS ct FROM obs GROUP BY 1),
        |tot AS (SELECT sum(o) AS n FROM obs),
        |grid AS (SELECT ra.a, cb.b, rt, ct, n, COALESCE(o, 0) AS o0
        |  FROM ra CROSS JOIN cb CROSS JOIN tot
        |  LEFT JOIN obs ON obs.a = ra.a AND obs.b = cb.b),
        |terms AS (SELECT n,
        |  CAST(ROUND(CAST((CAST(o0 AS HUGEINT) * n - CAST(rt AS HUGEINT) * ct)
        |      * (CAST(o0 AS HUGEINT) * n - CAST(rt AS HUGEINT) * ct) AS DOUBLE)
        |    / CAST(CAST(rt AS HUGEINT) * ct * n AS DOUBLE), 6)
        |    AS DECIMAL(28, 6)) AS term
        |  FROM grid),
        |s AS (SELECT CAST(MAX(n) AS BIGINT) AS n,
        |  CAST((SELECT count(*) FROM ra) AS INTEGER) AS r_levels,
        |  CAST((SELECT count(*) FROM cb) AS INTEGER) AS c_levels,
        |  SUM(term) AS chi2 FROM terms)
        |SELECT n, r_levels, c_levels, CAST(chi2 AS DOUBLE) AS chi2,
        |  CASE WHEN LEAST(r_levels, c_levels) > 1 AND n > 0 THEN
        |    ROUND(SQRT(CAST(chi2 AS DOUBLE)
        |      / CAST(n * (LEAST(r_levels, c_levels) - 1) AS DOUBLE)), 6)
        |  ELSE NULL END AS cramers_v
        |FROM s""".stripMargin,
    // duplicates listing: same grouping, count > 1, top-10 by count
    // desc with the all-columns ascending tie-break — a deterministic
    // set, so the sorted-rows hash compare is exact
    "pr16_dup_rows" ->
      """SELECT l_returnflag, l_linestatus, l_linenumber,
        | CAST(count(*) AS BIGINT) AS n_dup
        |FROM lineitem GROUP BY 1, 2, 3 HAVING count(*) > 1
        |ORDER BY n_dup DESC, l_returnflag, l_linestatus, l_linenumber
        |LIMIT 10""".stripMargin,
    "pr18_spearman_matrix" -> spearmanMatrixOracle(
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
    "pr20_binned_chi2" -> binnedChi2Oracle("l_quantity", "l_extendedprice",
      bins = 8),
    "pr21_nullity" -> nullityOracle,
    "pr22_interactions" -> interactionsOracle(
      Seq("l_quantity", "l_discount", "l_tax"), bins = 6),
    "pr23_kappa" -> kappaOracle("none"),
    "pr24_kappa_weighted" -> kappaOracle("quadratic"),
    "pr8_frequent" ->
      """WITH cells AS (
        | SELECT 'c_mktsegment' AS col_name, CAST(c_mktsegment AS VARCHAR) AS value
        |   FROM customer WHERE c_mktsegment IS NOT NULL
        | UNION ALL
        | SELECT 'c_nationkey', CAST(c_nationkey AS VARCHAR)
        |   FROM customer WHERE c_nationkey IS NOT NULL),
        |counts AS (SELECT col_name, value, count(*) AS cnt
        |  FROM cells GROUP BY 1, 2)
        |SELECT col_name, value, cnt, rank FROM (
        | SELECT col_name, value, cnt,
        |   CAST(row_number() OVER (PARTITION BY col_name
        |     ORDER BY cnt DESC, value) AS INTEGER) AS rank
        | FROM counts) WHERE rank <= 5""".stripMargin,
    "pr9_frequent_numeric" ->
      """WITH cells AS (
        | SELECT 'c_nationkey' AS col_name, CAST(c_nationkey AS DOUBLE) AS value
        |   FROM customer WHERE c_nationkey IS NOT NULL
        | UNION ALL
        | SELECT 'c_acctbal', CAST(c_acctbal AS DOUBLE)
        |   FROM customer WHERE c_acctbal IS NOT NULL),
        |counts AS (SELECT col_name, value, count(*) AS cnt
        |  FROM cells GROUP BY 1, 2)
        |SELECT col_name, value, CAST(cnt AS BIGINT) AS cnt, rank FROM (
        | SELECT col_name, value, cnt,
        |   CAST(row_number() OVER (PARTITION BY col_name
        |     ORDER BY cnt DESC, value) AS INTEGER) AS rank
        | FROM counts) WHERE rank <= 5""".stripMargin,
    "pr13_alerts" -> graft.profile.Profile.alertsSql(
      """SELECT o_orderkey AS ok, 'X' AS const_col,
        | CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_totalprice END
        |   AS gappy,
        | o_custkey AS cust,
        | CASE WHEN o_orderkey % 997 = 0 THEN o_totalprice * 1000
        |   ELSE CAST(1.0 AS DOUBLE) END AS spiky
        |FROM orders""".stripMargin,
      Seq(("ok", true), ("const_col", false), ("gappy", true),
        ("cust", true), ("spiky", true)),
      missingThreshold = 0.1))
}
