package graft.queries

import graft.compile.MappingCompiler
import graft.model.MappingLoader
import graft.sources.Tabular
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The driver-verified query battery.
  *
  * Each entry is one operator from SURVEY.md §2 (named by its operator id) or
  * one of the large-scale training-data extensions, expressed as a
  * deterministic query over the test-data parquet tables with a DuckDB oracle:
  * one [[QueryPack.Query]] each in [[registry]]. Design rules for oracle
  * hash-stability:
  *
  *   - money aggregates go through DECIMAL casts (exact, order-independent)
  *     and only the final value is rendered as DOUBLE;
  *   - hashing is md5-based on both sides (the only hash both engines share);
  *   - every top-k has a total order (ties broken by a unique key);
  *   - timestamps are reduced to epoch millis or truncated dates.
  */
object QueryPack {

  private def T(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  private def dec(c: Column): Column = c.cast("decimal(12,2)")

  /** events.ts has shipped in three parquet generations, all normalised
    * here to one epoch-millis column:
    *   - TIMESTAMP(NANOS): Spark 4 reads it only as a long (raw nanos,
    *     via the nanosAsLong conf set below, which the GraftSession
    *     profile also sets but `graft.SparkEntry.entry`'s externally built
    *     session need not) — INTEGER division to ms
    *     (double division would lose precision at 1e18);
    *   - µs TIMESTAMP_NTZ (the current driver testdata) and µs TIMESTAMP
    *     (ScaleGen output from nanos-era sources): `cast(ts as timestamp)`
    *     is a no-op on the latter and an NTZ→LTZ reinterpretation on the
    *     former. `unix_micros` does NOT implicitly accept TIMESTAMP_NTZ
    *     (DATATYPE_MISMATCH), hence the explicit cast.
    * The NTZ cast reads the wall clock in the SESSION time zone; every
    * graft entry point (Verify, Bench, SparkSpec, SparkEntry) pins UTC,
    * which is also what the DuckDB oracle's `epoch_ms(ts)` assumes for
    * no-tz parquet — the epoch-ms values agree engine-to-engine. */
  private def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = T(s, dir, "events")
    val tsMs = df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000000")
      case _ => expr("unix_micros(cast(ts as timestamp)) div 1000")
    }
    df.withColumn("ts_ms", tsMs)
  }

  // === Relational core ======================================================

  /** TPC-H Q1-style pricing summary: partial (map-side) aggregation, exact
    * decimal sums. One shuffle on the 2-key group — optimal. */
  def q1Agg(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  /** TPC-H Q3-style: selective dim filter → join → top-10 by revenue.
    * customer is small relative to lineitem → broadcast it; order totally
    * (revenue desc, key asc) so LIMIT is deterministic. */
  def q3TopOrders(s: SparkSession, dir: String): DataFrame = {
    val cust = T(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord = T(s, dir, "orders")
    val li = T(s, dir, "lineitem")
    // orders ⋈ broadcast(customer) is itself small (one segment) →
    // broadcast it too: lineitem is never shuffled before the final agg.
    val dim = ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "o_orderpriority")
    li.join(broadcast(dim), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderkey", "o_orderpriority")
      .agg(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-style: star join through two broadcast dims + one fact-fact
    * shuffle join, revenue per nation. The lineitem⋈orders shuffle is the
    * whole sf10 cost (13× for 100× — both fact sides re-shuffle on the
    * join key every run); at 100 TB the standing fix is to bucket both
    * fact tables on orderkey once and join with zero Exchange —
    * [[xBucketedJoin]] demonstrates exactly that cure on this join. */
  def q5RegionRevenue(s: SparkSession, dir: String): DataFrame = {
    val region = T(s, dir, "region").filter(col("r_name") === "ASIA")
    val nation = T(s, dir, "nation")
    val cust = T(s, dir, "customer")
    val ord = T(s, dir, "orders")
    val li = T(s, dir, "lineitem")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust.join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
                          .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))),
            col("o_custkey") === col("c_custkey"))
      .groupBy("n_name")
      .agg(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
        .cast("double").as("revenue"))
  }

  /** TPC-H Q6-style: selective scan-level filters + exact revenue sum.
    * The filters and the 4-column projection must reach the parquet scan
    * (PushedFilters / ReadSchema) — asserted by PlanQualitySpec. */
  def q6ForecastRevenue(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .filter(col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
        .cast("double").as("revenue"), count(lit(1)).as("n"))

  /** §2.6 extension — co-located fact⋈fact join via bucketing
    * ([[graft.runtime.Bucketing]]): lineitem and orders are materialised
    * once per session as external parquet tables bucketed AND
    * per-bucket-sorted on the join key (32 buckets here — one per
    * local[32] core, since bucketed-scan parallelism is CAPPED at the
    * bucket count; the round-11 session-3 campaign measured the original
    * 8-bucket layout at 14.6 s at sf10 purely from the 8-way cap. At
    * 100 TB the count instead follows the ~128–256 MB-per-bucket rule),
    * after which the
    * join's executed plan carries ZERO Exchange — both scans report the
    * bucket partitioning, so neither fact table ever re-shuffles
    * (PlanQualitySpec pins the no-Exchange claim with broadcast
    * disabled). The shuffle is paid once at write time and amortised
    * over every later join/agg on the same key; the min-of-2 bench
    * protocol's second run measures that steady state. The oracle is the
    * identical join computed by DuckDB straight off the raw parquet —
    * bucketing must never change answers, only plans. */
  def xBucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val tag = math.abs(dir.hashCode).toString
    cachedFixture("x_bucketed", dir) {
      val base = java.nio.file.Files.createTempDirectory("graft_bucketed")
      graft.runtime.Bucketing.ensureBucketed(s, s"g_li_$tag",
        base.resolve("li").toString, Seq("l_orderkey"), 32)(
        T(s, dir, "lineitem").select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")))
      graft.runtime.Bucketing.ensureBucketed(s, s"g_ord_$tag",
        base.resolve("ord").toString, Seq("o_orderkey"), 32)(
        T(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")))
      base.toString
    }
    s.table(s"g_li_$tag").join(s.table(s"g_ord_$tag"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
        .cast("double").as("revenue"), count(lit(1)).as("n_items"))
  }

  /** Rollup aggregation (grouping sets). */
  def aggRollup(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), sum(dec(col("l_quantity"))).cast("double").as("qty"))

  /** Exact distinct aggregation per group. */
  def aggDistinct(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("users"), count(lit(1)).as("n"))

  /** Set operations: customers with orders vs without (INTERSECT/EXCEPT).
    *
    * Computed as ONE shared-exchange aggregation (r18, guide §2.4): the
    * `intersect` + `except` rendering planned four key exchanges and read
    * both tables twice (each set op shuffles both sides, then the union
    * concatenates the two results). Tagged-union + groupBy is the same
    * set algebra — INTERSECT = distinct customer keys that also appear in
    * orders, EXCEPT = distinct customer keys that don't, and every
    * customer key lands in exactly one branch — so one exchange on the
    * key (with map-side partial aggregation) yields both branches at
    * once. NULL-key behaviour matches too: set ops compare NULLs equal,
    * and groupBy buckets NULLs into one group. Oracle SQL stays the
    * literal INTERSECT/EXCEPT form, pinning the equivalence. */
  def setOps(s: SparkSession, dir: String): DataFrame = {
    val custKeys = T(s, dir, "customer")
      .select(col("c_custkey").as("k"), lit(true).as("_c"))
    val orderCust = T(s, dir, "orders")
      .select(col("o_custkey").as("k"), lit(false).as("_c"))
    custKeys.unionByName(orderCust)
      .groupBy(col("k"))
      .agg(max(col("_c")).as("_has_c"), min(col("_c")).as("_has_o_inv"))
      .filter(col("_has_c"))
      .select(col("k"),
        when(!col("_has_o_inv"), lit("active")).otherwise(lit("inactive"))
          .as("status"))
  }

  /** Row-level dedup via dropDuplicates on a projected key set. */
  def dedupRows(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .select("l_returnflag", "l_linestatus", "l_shipdate")
      .withColumn("ship_date", to_date(col("l_shipdate"))).drop("l_shipdate")
      .dropDuplicates("l_returnflag", "l_linestatus", "ship_date")

  // === Window / ordered operators ==========================================

  /** Running total per user — the Window.partitionBy analogue of the
    * reference's ordered row semantics. One shuffle on user_id. */
  def w1RunningTotal(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, dir)
      .filter(col("user_id") % 10 === 0)
      .select(col("event_id"), col("user_id"),
        sum(dec(col("value"))).over(w).cast("double").as("running_value"))
  }

  /** Sessionisation: gap > 30 min starts a new session — the exact Spark
    * shape of the reference's non-tabular record segmentation (N3:
    * running sum of start-markers over an ordered window). */
  def w2Sessionize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("event_id")
    val ev = events(s, dir)
      .withColumn("ms", col("ts_ms"))
      .withColumn("prev_ms", lag(col("ms"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > 1800000L, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    ev.groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"), min(col("ms")).as("start_ms"), max(col("ms")).as("end_ms"))
  }

  /** As-of join, distributed shape: one shuffle on the key, one sort, a
    * carry-forward window — never an inequality join (which degenerates to
    * a per-key cross product at scale). Each purchase event is joined to
    * the latest strictly-prior click of the same user. */
  def xAsofJoin(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val prior = Window.partitionBy("user_id")
      .orderBy(col("ts_ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events(s, dir)
      .withColumn("last_click_id",
        last(when(col("event_type") === "click", col("event_id")),
             ignoreNulls = true).over(prior))
      .withColumn("last_click_ms",
        last(when(col("event_type") === "click", col("ts_ms")),
             ignoreNulls = true).over(prior))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_ms"),
              col("last_click_id"), col("last_click_ms"))
  }

  /** Range join, distributed shape: explode each probe interval into the
    * hour buckets it covers, equi-join on (key, bucket), then apply the
    * exact bounds — bounded fan-out instead of an inequality join. Counts
    * the clicks within one hour after each signup, per user. */
  def xRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val H = 3600000L
    val ev = events(s, dir)
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("su"), col("event_id").as("signup_id"),
              col("ts_ms").as("s_ms"))
      .withColumn("bucket",
        explode(sequence(expr(s"s_ms div $H"), expr(s"(s_ms + $H) div $H"))))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("click_id"),
              col("ts_ms").as("c_ms"))
      .withColumn("cbucket", expr(s"c_ms div $H"))
    signups.join(clicks,
        col("su") === col("cu") && col("bucket") === col("cbucket") &&
          col("c_ms") > col("s_ms") && col("c_ms") <= col("s_ms") + H)
      .groupBy(col("signup_id"), col("su").as("user_id"))
      .agg(count(lit(1)).as("n_clicks"), min(col("click_id")).as("first_click_id"))
  }

  /** Hot-key-safe aggregation through the salting utilities: two-phase
    * (salted partial → merge) with exact decimal sums — byte-identical to
    * the single-phase result, but a hot key fans across `salts` tasks. */
  def xSaltedAgg(s: SparkSession, dir: String): DataFrame =
    graft.runtime.Skew.saltedAgg(events(s, dir), Seq(col("event_type")), 16,
        partial = Map("n" -> count(lit(1)), "v" -> sum(dec(col("value")))),
        merge   = Map("n" -> sum(col("n")), "v" -> sum(col("v"))))
      .select(col("event_type"), col("n"),
              col("v").cast("double").as("value_sum"))

  // === Source-operator semantics (S/T/M) over the test tables ==============

  /** S5 — JSON parsing semantics (the JSONL reader's per-line parse). */
  def s5JsonProps(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))

  /** T7 — klass fan-out through the REAL mapping compiler: one customer row
    * fans into CustomerRecord + AccountRecord, masked per klass, name run
    * through the :name cleaner (M9). Narrow — zero shuffles. */
  def t7KlassFanout(s: SparkSession, dir: String): DataFrame = {
    val yaml =
      """|columns:
         |- column: name
         |  klass: CustomerRecord
         |  mappings:
         |  - field: name
         |    clean: :name
         |- column: segment
         |  klass: CustomerRecord
         |  mappings:
         |  - field: segment
         |- column: acctbal
         |  klass: AccountRecord
         |  mappings:
         |  - field: acctbal
         |""".stripMargin
    val mapping = MappingLoader.loadTable(yaml)
    val input = T(s, dir, "customer").select(
      array(col("c_name"), col("c_mktsegment"), dec(col("c_acctbal")).cast("string"))
        .as("cells"),
      col("c_custkey").cast("long").as("lineno"),
      lit("customer").as("file"))
    MappingCompiler(mapping).records(input)
      .select(col("klass"),
        element_at(col("fields"), "name").as("name"),
        element_at(col("fields"), "segment").as("segment"),
        element_at(col("fields"), "acctbal").as("acctbal"),
        col("index"))
  }

  /** T9 — fixed-width unpack (a8 A12) round-tripped through the real
    * fixed-width source on synthesised lines. */
  def t9FixedWidth(s: SparkSession, dir: String): DataFrame = {
    val lines = T(s, dir, "part").select(
      lit("part").as("file"),
      col("p_partkey").cast("long").as("lineno"),
      concat(lpad(col("p_partkey").cast("string"), 8, "0"),
             rpad(col("p_brand"), 12, " ")).as("line"))
    Tabular.fixedWidth(lines, Seq("a8", "A12"))
      .select(col("lineno").as("partkey"),
        element_at(col("cells"), 1).as("key_text"),
        element_at(col("cells"), 2).as("brand"))
  }

  /** Fixture paths keyed by (query, sf dir) — built once per JVM: the
    * system under test is the IMPORT, not driver-side fixture writing, so
    * bench medians must not absorb fixture generation. */
  private val fixtureCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
  private def cachedFixture(query: String, dir: String)(build: => String): String =
    fixtureCache.computeIfAbsent((query, dir), { _ => build })

  /** Writes `bytes` as `name` in a fresh temp directory; returns its path. */
  private def tempFile(name: String, bytes: Array[Byte]): String = {
    val p = java.nio.file.Files.createTempDirectory("graft_fixture").resolve(name)
    java.nio.file.Files.write(p, bytes)
    p.toString
  }

  /** `table`'s (key, name) rows with key below `cap`, sorted by key. */
  private def keyed(s: SparkSession, dir: String, table: String, key: String, name: String,
                    cap: Long = Long.MaxValue): Seq[(Long, String)] =
    T(s, dir, table).filter(col(key) < cap).select(col(key).cast("long"), col(name))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq

  private def csvBytes(rows: Seq[(Long, String)]): Array[Byte] =
    ("key,name" +: rows.map { case (k, n) => s"$k,$n" }).mkString("", "\n", "\n").getBytes("UTF-8")

  /** T12 — the orchestration layer end-to-end (`universal_importer_helper.rb`):
    * a zip containing a CSV (nation), an xlsx (region), a native BIFF8 .xls
    * (supplier) and a .docx (customer) flows through container expansion
    * (S16), filename-pattern mapping match (T1), the delimited/xlsx/OLE
    * Biff8/Word readers (S2/S3/S13), header validation (T3), non-tabular
    * capture (N3/N4 for the docx) and canonical-table union (T12). Fixtures
    * are written driver-side by [[Fixtures]] from the sf parquet (cached per
    * JVM — the system under test is the import, not fixture writing), so the
    * DuckDB oracle is a plain four-way UNION ALL. */
  def t12ImporterUnion(s: SparkSession, dir: String): DataFrame = {
    val zipPath = cachedFixture("t12", dir) {
      // bounded like s12: the xls and docx fixtures stay small at every sf
      val supplier = keyed(s, dir, "supplier", "s_suppkey", "s_name", cap = 1000)
      val customer = keyed(s, dir, "customer", "c_custkey", "c_name", cap = 2000)
      def sheet(rows: Seq[(Long, String)]) =
        Seq("key", "name") +: rows.map { case (k, n) => Seq(k.toString, n) }
      tempFile("places.zip", Fixtures.zip(Seq(
        "nation.csv" -> csvBytes(keyed(s, dir, "nation", "n_nationkey", "n_name")),
        "region.xlsx" -> Fixtures.xlsx(Seq(
          "Regions" -> sheet(keyed(s, dir, "region", "r_regionkey", "r_name")))),
        "supplier.xls" -> Fixtures.xls(Seq("Suppliers" -> sheet(supplier))),
        "customer.docx" -> Fixtures.docx(customer.map { case (k, n) => s"K=$k N=$n" }))))
    }

    def tableYaml(pattern: String) =
      s"""|- canonical_name: places
          |  filename_pattern: !ruby/regexp /\\.$pattern\\z/i
          |  header_lines: 1
          |  klass: Place
          |  columns:
          |  - column: key
          |    mappings:
          |    - field: key
          |  - column: name
          |    mappings:
          |    - field: name
          |""".stripMargin
    val docxYaml =
      """|- canonical_name: places
         |  filename_pattern: !ruby/regexp /\.docx\z/i
         |  format: docx
         |  start_line_pattern: !ruby/regexp /\AK=/
         |  capture_start_line: true
         |  end_in_a_record: true
         |  klass: Place
         |  columns:
         |  - column: key
         |    non_tabular_cell:
         |      lines: 0
         |      capture: !ruby/regexp /\AK=(\d+) /
         |    mappings:
         |    - field: key
         |  - column: name
         |    non_tabular_cell:
         |      lines: 0
         |      capture: !ruby/regexp / N=(.+)\z/
         |    mappings:
         |    - field: name
         |""".stripMargin
    val mappings = MappingLoader.loadTables(
      tableYaml("csv") + tableYaml("xlsx") + tableYaml("xls") + docxYaml)

    graft.run.Importer.mappedTables(s, zipPath, mappings,
        graft.run.Registry.ContainerOptions(
          unzipPath = java.nio.file.Paths.get(zipPath).getParent.toString))("places")
      .select(element_at(col("fields"), "key").as("key"),
              element_at(col("fields"), "name").as("name"))
  }

  /** S17 + T12 — the 7-Zip container leg (`file/seven_zip.rb:20-61`,
    * `test/file/seven_zip_test.rb`): a .7z holding nation.csv plus a NESTED
    * zip of region.csv flows through recursive container expansion
    * (7z → zip → csv, `registry.rb:24-28`), the delimited reader, header
    * validation and canonical-table union. Write-side 7z encryption isn't
    * available on the JVM stack (commons-compress reads AES-256 archives
    * but cannot write them), so the password path is pinned by
    * ImporterSpec against the reference's own `normal.7z` fixture. */
  def t12b7zUnion(s: SparkSession, dir: String): DataFrame = {
    val szPath = cachedFixture("t12b", dir) {
      tempFile("bundle.7z", Fixtures.sevenZ(Seq(
        "nation.csv" -> csvBytes(keyed(s, dir, "nation", "n_nationkey", "n_name")),
        "inner.zip" -> Fixtures.zip(Seq(
          "region.csv" -> csvBytes(keyed(s, dir, "region", "r_regionkey", "r_name")))))))
    }
    val mappings = MappingLoader.loadTables(
      """|- canonical_name: places
         |  filename_pattern: !ruby/regexp /\.csv\z/i
         |  header_lines: 1
         |  klass: Place
         |  columns:
         |  - column: key
         |    mappings:
         |    - field: key
         |  - column: name
         |    mappings:
         |    - field: name
         |""".stripMargin)
    graft.run.Importer.mappedTables(s, szPath, mappings,
        graft.run.Registry.ContainerOptions(
          unzipPath = java.nio.file.Paths.get(szPath).getParent.toString))("places")
      .select(element_at(col("fields"), "key").as("key"),
              element_at(col("fields"), "name").as("name"))
  }

  /** S9 — the Avro container reader end-to-end: nation is written to a real
    * Avro file driver-side (avro core ships with Spark) and read back by
    * the engine's own container decoder, synthetic header row and
    * value-stringification included. */
  def s9Avro(s: SparkSession, dir: String): DataFrame = {
    import org.apache.avro.{Schema, SchemaBuilder}
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericDatumWriter, GenericRecordBuilder, GenericRecord}
    val path = cachedFixture("s9", dir) {
      val schema: Schema = SchemaBuilder.record("Nation").fields()
        .requiredLong("key").requiredString("name").endRecord()
      val bytes = new java.io.ByteArrayOutputStream()
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, bytes)
      keyed(s, dir, "nation", "n_nationkey", "n_name").foreach { case (k, n) =>
        w.append(new GenericRecordBuilder(schema).set("key", k).set("name", n).build())
      }
      w.close()
      tempFile("nation.avro", bytes.toByteArray)
    }
    graft.sources.Avro.rows(s, Seq(path))
      .filter(col("lineno") > 0) // drop the synthetic header row
      .select(element_at(col("cells"), 1).as("key"),
              element_at(col("cells"), 2).as("name"))
  }

  /** S11 — the VCF reader end-to-end: parts render to a VCF text file
    * (## meta lines skipped, # stripped from the header, tab cells). */
  def s11Vcf(s: SparkSession, dir: String): DataFrame = {
    val path = cachedFixture("s11", dir) {
      val parts = keyed(s, dir, "part", "p_partkey", "p_brand", cap = 2000)
      tempFile("parts.vcf", ("##fileformat=VCFv4.2\n##source=graft\n#CHROM\tPOS\tID\n" +
        parts.map { case (k, b) => s"1\t$k\t$b" }.mkString("", "\n", "\n")).getBytes("UTF-8"))
    }
    graft.sources.Tabular.vcf(s, Seq(path))
      .filter(col("lineno") > 0) // drop the #CHROM header row
      .select(element_at(col("cells"), 2).as("pos"),
              element_at(col("cells"), 3).as("id"))
  }

  /** S15 — the AcroForm scraper end-to-end: a generated PDF carries one
    * text field per nation; the single fields-hash row is exploded back to
    * (field, value) pairs. */
  def s15Acroform(s: SparkSession, dir: String): DataFrame = {
    val path = cachedFixture("s15", dir) {
      tempFile("form.pdf", Fixtures.acroFormPdf(
        keyed(s, dir, "nation", "n_nationkey", "n_name").map { case (k, n) => s"k$k" -> n }))
    }
    graft.sources.Pdf.acroForm(s, Seq(path))
      .select(explode(col("fields_hash")).as(Seq("field", "value")))
  }

  /** N1–N5 — the non-tabular segmentation pipeline end-to-end, distributed:
    * each order is rendered as a three-line text block (still a narrow
    * per-row transform — no driver-side collect), the block stream is
    * segmented by the REAL per-file line walk
    * ([[graft.tabulate.NonTabular]]) and tabulated, and the records flow
    * through the REAL mapping compiler. The oracle is a plain projection of
    * the same orders table. */
  def n3Segments(s: SparkSession, dir: String): DataFrame = {
    val yaml =
      """|start_line_pattern: !ruby/regexp /\A=== ORDER/
         |capture_start_line: true
         |end_in_a_record: true
         |klass: OrderBlock
         |columns:
         |- column: okey
         |  non_tabular_cell:
         |    lines: 0
         |    capture: !ruby/regexp /\A=== ORDER (\d+)\z/
         |  mappings:
         |  - field: okey
         |- column: prio
         |  non_tabular_cell:
         |    lines: 1
         |    capture: !ruby/regexp /\APRIORITY: (.*)\z/
         |  mappings:
         |  - field: prio
         |- column: status
         |  non_tabular_cell:
         |    lines: 2
         |    capture: !ruby/regexp /\ASTATUS: (.*)\z/
         |  mappings:
         |  - field: status
         |""".stripMargin
    val mapping = MappingLoader.loadTable(yaml)
    // 32 synthetic files — record blocks never span a file, so the per-file
    // walk parallelises across files (the 100 TB shape: sequential within a
    // file, parallel across many).
    val lines = T(s, dir, "orders")
      .select(col("o_orderkey").cast("long").as("k"),
              posexplode(array(
                concat(lit("=== ORDER "), col("o_orderkey")),
                concat(lit("PRIORITY: "), col("o_orderpriority")),
                concat(lit("STATUS: "), col("o_orderstatus")))).as(Seq("pos", "line")))
      .select(concat(lit("orders_"), col("k") % 32, lit(".txt")).as("file"),
              (col("k") * 3 + col("pos")).as("lineno"), col("line"))
    val cells = graft.tabulate.NonTabular.tabulate(lines, mapping)
    MappingCompiler(mapping).records(cells)
      .select(element_at(col("fields"), "okey").as("okey"),
              element_at(col("fields"), "prio").as("prio"),
              element_at(col("fields"), "status").as("status"))
  }

  /** X1/X3/X4 — the XML table layer end-to-end, distributed: each customer
    * becomes an XML record with a repeating `<contact>` section (narrow
    * per-row string build), parsed and augmented by the REAL
    * [[graft.xml.XmlTable]] transform — section instances mint `#n` klasses
    * and suffixed rawtext names, and the base klass is masked out. */
  def x3XmlRepeat(s: SparkSession, dir: String): DataFrame = {
    val yaml =
      """|columns:
         |- column: phone
         |  klass: Cust
         |  xml_cell:
         |    relative_path: contacts/contact
         |    multiple: true
         |    build_new_record: true
         |  mappings:
         |  - field: phone
         |""".stripMargin
    val mapping = MappingLoader.loadTable(yaml)
    val recs = T(s, dir, "customer").select(
      lit("cust.xml").as("file"),
      col("c_custkey").cast("long").as("index"),
      concat(lit("<record><contacts>"),
        lit("<contact><phone>"), col("c_name"), lit("</phone></contact>"),
        lit("<contact><phone>alt-"), col("c_name"), lit("</phone></contact>"),
        lit("</contacts></record>")).as("record_xml"))
    graft.xml.XmlTable.records(recs, mapping)
      .select(col("klass"), col("index").as("custkey"),
              element_at(col("fields"), "phone").as("phone"))
  }

  /** S12 — the native PDF text reader end-to-end: parts are rendered into a
    * generated PDF (one content stream per 50-line page, explicit Td
    * positioning), the file is parsed back by [[graft.sources.Pdf]] on an
    * executor, and the extracted lines are compared to a plain projection.
    * Bounded to p_partkey < 2000 so the fixture stays small at every sf. */
  def s12PdfText(s: SparkSession, dir: String): DataFrame = {
    val pdfPath = cachedFixture("s12", dir) {
      val parts = keyed(s, dir, "part", "p_partkey", "p_brand", cap = 2000)
      tempFile("parts.pdf", Fixtures.textPdf(
        parts.map { case (k, brand) => s"P $k $brand" }.grouped(50).toSeq))
    }
    graft.sources.Pdf.lines(s, Seq(pdfPath))
      .select(regexp_extract(col("line"), "^P (\\d+) (.*)$", 1).cast("bigint").as("partkey"),
              regexp_extract(col("line"), "^P (\\d+) (.*)$", 2).as("brand"))
  }

  /** M8 + M12 — date parse with explicit format and days-after-epoch. */
  def m8Dates(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders").select(
      col("o_orderkey"),
      to_date(date_format(col("o_orderdate"), "dd/MM/yyyy"), "dd/MM/yyyy").as("parsed_date"),
      date_add(to_date(lit("1970-01-01")), (col("o_orderkey") % 1000).cast("int"))
        .as("daysafter_date"))

  /** M10 — dictionary map with missing-key passthrough. */
  def m10MapDict(s: SparkSession, dir: String): DataFrame = {
    val m = typedLit(Map("A" -> "ACCEPTED", "R" -> "RETURNED"))
    T(s, dir, "lineitem")
      .select(coalesce(element_at(m, col("l_returnflag")), col("l_returnflag")).as("flag"))
      .groupBy("flag").agg(count(lit(1)).as("n"))
  }

  /** M11 — regex extract, group 1, null on no-match. */
  def m11Match(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "part").select(
      col("p_partkey"),
      when(col("p_name").rlike("^(\\w+) "), regexp_extract(col("p_name"), "^(\\w+) ", 1))
        .otherwise(lit(null).cast("string")).as("first_word"))

  /** M16 — priority cross-populate: first present value in priority order. */
  def m16Priority(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "part").select(
      col("p_partkey"),
      coalesce(
        when(trim(col("p_brand")) =!= "", trim(col("p_brand"))),
        when(trim(col("p_type")) =!= "", trim(col("p_type"))))
        .as("best"))

  /** M17 — order/join concatenation (compact skips blanks). */
  def m17Join(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "part").select(
      col("p_partkey"),
      concat_ws(" ", col("p_brand"), col("p_type"), col("p_name")).as("joined"))

  /** M9 — cleaner battery applied at scale (name, lpi, nhsnumber as pure
    * expression chains — the codegen path). */
  def m9Cleaners(s: SparkSession, dir: String): DataFrame = {
    import graft.clean.Cleaners
    T(s, dir, "customer").select(
      col("c_custkey"),
      Cleaners.cleanName(col("c_name")).as("cleaned_name"),
      Cleaners.lpi(col("c_name")).as("lpi"),
      Cleaners.nhsnumber(col("c_name")).as("digits"))
  }

  // === Training-data extensions ============================================

  private def words(c: Column): Column = split(c, " ")

  /** Exact dedup: content-hash group, keeper = min id. One shuffle.
    * Delegates to the public operator ([[graft.operators.TextDedup]]). */
  def xDedupExact(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextDedup.exact(T(s, dir, "documents"), "doc_id", "text")

  /** MinHash signatures over word 3-shingles: ONE md5 per shingle, then 6
    * hash functions derived arithmetically ((a*h+b) mod p — the standard
    * minhash family). 6x less hashing than per-seed md5; identical
    * arithmetic is expressible in DuckDB for the oracle. Narrow (per-row);
    * the LSH band-bucket join happens on the signature. */
  def xMinhash(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextDedup.minhashSignatures(
      T(s, dir, "documents"), "doc_id", "text", numHashes = 6, shingle = 3)

  /** LSH near-dup candidates: band on (mh0,mh1) and (mh2,mh3) — docs
    * sharing a band bucket are candidate pairs. Shuffle on band key only;
    * never all-pairs. */
  def xMinhashPairs(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextDedup.lshCandidatePairs(
        T(s, dir, "documents"), "doc_id", "text",
        numHashes = 6, shingle = 3, bandSize = 2, numBands = 2)
      .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"))

  /** SimHash (16-bit) from per-word 32-bit hashes: explode → 16 conditional
    * sums per doc → assemble bits. One shuffle on doc_id. */
  def xSimhash(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextDedup.simhash(T(s, dir, "documents"), "doc_id", "text", bits = 16)

  /** SimHash banded near-dup pairs
    * ([[graft.operators.TextDedup.simhashPairs]]): 32-bit signatures cut
    * into 4 bands of 8 bits, candidates collide per band, survivors
    * verified by exact hamming ≤ 3 — which the pigeonhole argument makes
    * EXACT recall at that threshold (any pair differing in < 4 bits
    * shares a band). 16 bits saturates on this templated corpus (39k of
    * 125k possible pairs collide at sf0.01 — measured); 32 bits is the
    * sized operating point (725 pairs), the same grow-the-hash-space
    * lesson as `planesFor`.
    *
    * NEGATIVE CONTROL (`negativeControl` in [[registry]]): a fixed
    * 32-bit width means 8-bit band buckets densify linearly with the
    * corpus and the candidate join quadratically — 25.7× cost for 100×
    * data (25.8 s at sf10, SCALING.md). Use [[xSimhashPairsSized]]
    * (corpus-sized width, ~64-doc buckets, 5.0× curve) for any real run;
    * this twin stays oracle-pinned for cross-scale hash comparability. */
  def xSimhashPairs(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextDedup.simhashPairs(T(s, dir, "documents"),
        "doc_id", "text", bits = 32, bands = 4, maxHamming = 3)
      .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"),
        col("hamming"))

  /** [[xSimhashPairs]] with the corpus-sized signature width
    * ([[graft.operators.TextDedup.simhashWidthFor]]): per-band slice
    * width grows with the corpus so band-bucket density stays ~64 — the
    * `planesFor` lesson applied to simhash banding. The fixed-width twin
    * keeps cross-scale hash comparability; THIS query pins the
    * configuration a 100 TB run would use. At sf0.01 the sized width
    * degenerates to the fixed 32 bits (same result — the differentiation
    * is a bench-scale property, like the LSH `_sized` twins). */
  def xSimhashPairsSized(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val w = graft.operators.TextDedup.simhashWidthFor(docs.count())
    graft.operators.TextDedup.simhashPairs(docs, "doc_id", "text",
        bits = 4 * w, bands = 4, maxHamming = 3, wideHash = true)
      .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"),
        col("hamming"))
  }

  /** Image near-dup pairs via the perceptual-hash band machinery
    * ([[graft.operators.TextDedup.bandedHammingPairs]] — the generic half
    * of `simhashPairs`, fed any integer hash column). No image is
    * decoded: this row pins the banded pair generation itself on a
    * deterministic 56-bit hash fixture both engines derive identically:
    * documents in families of 12 (`doc_id div 12`) share a family base
    * hash and each member flips one distinct bit (`doc_id % 56`), so
    * within-family pairs sit at hamming 2 — under the 4-band pigeonhole
    * guarantee every one MUST be generated (banded-not-all-pairs,
    * plan-pinned by PlanQualitySpec). */
  def xImageDedupPairs(s: SparkSession, dir: String): DataFrame = {
    val fixture = T(s, dir, "documents").selectExpr("doc_id",
      """cast(conv(substring(md5(concat('fam:', cast(doc_id div 12 as string))), 1, 14), 16, 10) as bigint)
         ^ shiftleft(cast(1 as bigint), cast(doc_id % 56 as int)) as phash""")
    graft.operators.TextDedup.bandedHammingPairs(fixture, "doc_id", "phash",
        bits = 56, bands = 4, maxHamming = 3)
      .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"),
        col("hamming"))
  }

  /** Video near-dup pairs — the temporal-majority signature
    * ([[graft.operators.TextDedup.videoSignatureFromFrames]]) into the
    * banded Hamming machinery. No video is decoded (MultimodalSpec pins
    * the combine against a row-local majority loop); this row pins the
    * MAJORITY COMBINE and the banded pair generation cross-engine on a
    * deterministic per-(doc, frame) fixture: 5 frames per doc, each
    * carrying the family base hash (`doc_id div 12`) ⊕ a PERSISTENT
    * member bit (`doc_id % 56`, all frames) ⊕ a TRANSIENT per-frame bit
    * (`(doc_id·31 + f) % 56`, one frame each). Majority must erase every
    * transient bit and keep the persistent one — an or/and/xor-shaped
    * combine bug changes the signatures and fails the hash — leaving
    * within-family pairs at hamming ≤ 2, all generated under the 4-band
    * pigeonhole guarantee (banded-not-all-pairs, plan-pinned). */
  def xVideoDedupPairs(s: SparkSession, dir: String): DataFrame = {
    val frames = T(s, dir, "documents")
      .selectExpr("doc_id", "explode(sequence(0, 4)) as f")
      .selectExpr("doc_id",
        """cast(conv(substring(md5(concat('vfam:', cast(doc_id div 12 as string))), 1, 14), 16, 10) as bigint)
           ^ shiftleft(cast(1 as bigint), cast(doc_id % 56 as int))
           ^ shiftleft(cast(1 as bigint), cast((doc_id * 31 + f) % 56 as int)) as fhash""")
    val sig = graft.operators.TextDedup.videoSignatureFromFrames(
      frames, "doc_id", "fhash", bits = 56)
    graft.operators.TextDedup.bandedHammingPairs(sig, "doc_id", "vhash",
        bits = 56, bands = 4, maxHamming = 3)
      .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"),
        col("hamming"))
  }

  /** Audio near-dup pairs — the energy-envelope dHash derivation
    * ([[graft.operators.TextDedup.envelopeSignatureFromSlots]]) into the
    * banded Hamming machinery. No audio is decoded (AudioDedupSpec pins
    * the derivation against the slot-comparison loop); this row pins
    * the ENVELOPE→BIT derivation and the banding cross-engine on a
    * deterministic per-(doc, slot) fixture:
    * the target family signature (family base hash ⊕ one member bit,
    * the image-fixture shape) is ENCODED as a prefix-walk envelope —
    * slot k holds k − 2·popcount(t & (2^k − 1)), so the walk steps DOWN
    * exactly where t has a set bit and `slot b > slot b+1` recovers bit
    * b. A >/<, bit-order or off-by-one-slot bug in the derivation
    * changes every signature and fails the hash. Within-family pairs
    * sit at hamming 2 — all generated under the 4-band pigeonhole
    * guarantee (banded-not-all-pairs, plan-pinned). */
  def xAudioDedupPairs(s: SparkSession, dir: String): DataFrame = {
    val slots = T(s, dir, "documents")
      .selectExpr("doc_id",
        """cast(conv(substring(md5(concat('aufam:', cast(doc_id div 12 as string))), 1, 14), 16, 10) as bigint)
           ^ shiftleft(cast(1 as bigint), cast(doc_id % 56 as int)) as t""")
      .selectExpr("doc_id", "t", "explode(sequence(0, 56)) as k")
      .selectExpr("doc_id", "k",
        "cast(k as bigint) - 2 * cast(bit_count(t & (shiftleft(cast(1 as bigint), k) - 1)) as bigint) as e")
    val sig = graft.operators.TextDedup.envelopeSignatureFromSlots(
      slots, "doc_id", "k", "e", bits = 56)
    graft.operators.TextDedup.bandedHammingPairs(sig, "doc_id", "ahash",
        bits = 56, bands = 4, maxHamming = 3)
      .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"),
        col("hamming"))
  }

  /** N-gram Jaccard near-dup over a bounded candidate set (all-pairs on a
    * small id range — production path is LSH above). */
  def xJaccard(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextDedup.jaccardPairs(
        T(s, dir, "documents").filter(col("doc_id") < 100), "doc_id", "text",
        threshold = 0.1)
      .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"), col("jaccard"))

  /** Shared vector ops over the 64-dim embedding column. Higher-order
    * functions, deliberately: an unrolled 64-term `element_at` sum was
    * measured 4-5× SLOWER — the generated method blows past the JIT/
    * whole-stage-codegen size limits and the stage falls back to
    * interpretation. The fold order matches DuckDB's `list_sum` exactly,
    * so oracle hashes are stable. */
  private def dotCols(a: Column, b: Column): Column = graft.operators.Ann.dot(a, b)
  private def normCol(a: Column): Column = graft.operators.Ann.norm(a)

  /** Brute-force cosine top-5 ANN: broadcast the query vectors, score all
    * candidates, rank per query. The sf-scalable baseline (IVF/LSH variant
    * rides on the same scoring expression). Norms are projected once per
    * side instead of recomputed per pair. */
  def xAnnCosine(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    graft.operators.Ann.cosineTopK(
      emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding", k = 5)
  }

  /** Deterministic random-hyperplane constants for LSH: sign[i][d] ∈ {-1,1}
    * from md5("i:d") — generated once on the driver, embedded as literals
    * in both the Spark plan and the DuckDB oracle. */
  private[queries] val lshPlanes: Seq[Seq[Int]] =
    graft.operators.Ann.hyperplanes(numPlanes = 8, dim = 64)

  /** LSH-bucketed ANN: 8 random-hyperplane sign bits form a bucket;
    * candidates only meet inside their bucket (shuffle on the bucket key,
    * never all-pairs). Emits each vector's bucket and its best
    * within-bucket neighbour. The brute-force twin is `x_ann_cosine`.
    *
    * NEGATIVE CONTROL (`negativeControl` in [[registry]]): 8 fixed
    * planes = 256 buckets forever, so bucket population grows linearly
    * with the corpus and the within-bucket join quadratically (17.4 s at
    * sf10, SCALING.md, vs 1.15 s for the sized twin). Use [[xAnnLshSized]]
    * (`planesFor`-sized, ~64-vector buckets) for any real run; this twin
    * stays oracle-pinned for cross-scale hash comparability. */
  def xAnnLsh(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ann.annLsh(T(s, dir, "embeddings"), "vec_id", "embedding", lshPlanes)

  /** Corpus-sized hyperplane superset for the `_sized` LSH queries: plane
    * count grows with the corpus (`Ann.planesFor`, target bucket 64), and
    * the oracle SQL embeds all [[maxSizedPlanes]] sign literals and masks
    * to the engine-computed count — so Spark and DuckDB derive the SAME
    * plane count from the SAME `count(*)` without the SQL being
    * regenerated per scale. 16 planes covers 64·2^16 ≈ 4.2M vectors;
    * beyond that the require below fires rather than silently densifying. */
  private val maxSizedPlanes = 16
  private[queries] val sizedPlanes: Seq[Seq[Int]] =
    graft.operators.Ann.hyperplanes(numPlanes = maxSizedPlanes, dim = 64)

  private def sizedPlanesFor(n: Long): Seq[Seq[Int]] = {
    val np = graft.operators.Ann.planesFor(n, 64)
    require(np <= maxSizedPlanes,
      s"corpus of $n vectors needs $np planes > superset $maxSizedPlanes")
    sizedPlanes.take(np)
  }

  /** x_ann_lsh with the linear-track plane count: `planesFor(n)` planes
    * instead of the fixed 8, so bucket density stays ~64 as the corpus
    * grows. The fixed-plane `x_ann_lsh` keeps cross-scale hash
    * comparability; THIS query pins the configuration a 100 TB run would
    * use (SCALING.md measured 17.7 s → 1.15 s at sf10 from exactly this
    * re-sizing). */
  def xAnnLshSized(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    graft.operators.Ann.annLsh(emb, "vec_id", "embedding",
      sizedPlanesFor(emb.count()))
  }

  /** IVF-style ANN: a deterministic coarse quantizer (the first ⌈√N⌉
    * vectors as fixed centroids — a k-means seeding both engines can
    * replicate) assigns every vector to its nearest cell; search happens
    * within the cell only. Complements the hyperplane-LSH path.
    *
    * Scale shape: ⌈√N⌉ cells keep the cell key's cardinality growing with
    * the data (average cell ≈ √N vectors), so the pair join can be a plain
    * shuffle-hash join over cells — never a whole-table broadcast, which
    * would OOM at 100×. Hot cells (a skewed quantizer) are spread with
    * `Skew.saltedJoin`; AQE's skew-join splitting backs this up at runtime.
    *
    * NEGATIVE CONTROL (`negativeControl` in [[registry]]): this is
    * the EXHAUSTIVE within-cell consumer — every vector meets all ~√N
    * cell-mates, so total work is Σpop² ≈ N^1.5 (18.5× cost for 100×
    * data, 10.1 s at sf10 — SCALING.md). The user path is the probe
    * family ([[xAnnIvfProbe]], `x_ann_ivfpq*`): k probed cells per query,
    * not all-pairs per cell. Stays oracle-pinned to protect the
    * assignment + salted-cell-join semantics. */
  def xAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    // Assignment (narrow argmin over the literal centroid matrix) and the
    // salted shuffle-hash cell join are the public operator.
    graft.operators.Ann.annIvf(emb, "vec_id", "embedding",
      ivfCentroids(emb), salts = 4)
  }

  /** x_ann_ivf with the two-level index build (`Ann.assignCellsHier`):
    * same centroids, same within-cell search, but assignment costs
    * ~2√K distances per row instead of K — the sub-O(N^1.5) build. The
    * DuckDB twin replicates the block layout and both argmin tie-breaks,
    * so the hash pins the hierarchical assignment bit-for-bit.
    *
    * NEGATIVE CONTROL (`negativeControl` in [[registry]]): this pairs the
    * hier assignment with the all-pairs within-cell consumer, the
    * configuration `Ann.assignCellsHier`'s scaladoc forbids. Its Σpop²
    * skew is exactly what the all-pairs join pays: 66.8 s at sf10 vs
    * 1.2 s for the shipped probe pairing ([[xAnnIvfHierProbe]]). It stays
    * oracle-pinned to hold the raw hier assignment against DuckDB. */
  def xAnnIvfHier(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    graft.operators.Ann.annIvf(emb, "vec_id", "embedding",
      ivfCentroids(emb), salts = 4, twoLevel = true)
  }

  /** The deterministic coarse quantizer both engines replicate: the first
    * ⌈√N⌉ vectors as fixed centroids (K overridable). count() is
    * metadata-only on parquet; K centroid vectors always fit on the
    * driver (√N grows as the square root of data volume — 10^10 vectors
    * is 10^5 centroids). Collected once and embedded as plan literals, so
    * assignment is a narrow, fully-codegen argmin per row — no crossJoin,
    * no window shuffle, no cache to evict. */
  private def ivfCentroids(emb: DataFrame,
                           centroids: Option[Int] = None): Seq[(Long, Seq[Double])] = {
    val k = centroids.getOrElse(math.ceil(math.sqrt(emb.count().toDouble)).toInt)
    emb.filter(col("vec_id") < k)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Any](1).map {
        case f: Float => f.toDouble
        case d: Double => d
        case x => x.toString.toDouble
      }.toSeq))
      .sortBy(_._1).toSeq
  }

  /** Probe-limited IVF search (`Ann.ivfSearch`): the x_ann_cosine query
    * set (vec_id < 8) searched through the IVF index with nprobe = 3 —
    * each query scores only its 3 nearest cells' vectors instead of the
    * whole corpus. Same output shape as x_ann_cosine, so recall against
    * the brute-force baseline is directly comparable. */
  def xAnnIvfProbe(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    graft.operators.Ann.ivfSearch(emb, emb.filter(col("vec_id") < 8),
      "vec_id", "embedding", ivfCentroids(emb), nprobe = 3, k = 5)
  }

  /** The two-level build paired with its PRESCRIBED consumer
    * (`Ann.ivfSearch(twoLevel = true)`): corpus assignment via the
    * coarse→fine hier pass (~2√K distances per row instead of K), search
    * probe-limited (nprobe = 3) — the configuration
    * `Ann.assignCellsHier`'s scaladoc steers to, now an oracle row
    * instead of prose. Probe-limited cost is linear in the probed cells'
    * populations, so the hier assignment's measured Σpop² skew (which
    * sinks its all-pairs pairing `x_ann_ivf_hier`) does not bite here.
    * Recall caveat (measured at two scales, SCALING.md round 11): the
    * hier assignment's inexactness WIDENS as cells multiply — recall@5
    * 0.575 at sf0.1 (K = 45) but 0.275 at sf1 (K = 142) at nprobe = 3 —
    * so the ~2√K flop saving buys progressively less quality at larger
    * K; budget nprobe accordingly.
    * The DuckDB twin composes the hier oracle's assignment CTEs with the
    * probe oracle's search CTEs verbatim. */
  def xAnnIvfHierProbe(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    graft.operators.Ann.ivfSearch(emb, emb.filter(col("vec_id") < 8),
      "vec_id", "embedding", ivfCentroids(emb), nprobe = 3, k = 5,
      twoLevel = true)
  }

  /** x_ann_ivf_probe searched through a coarse quantizer refined by ONE
    * deterministic Lloyd pass (`Ann.centroidsLloyd`, sample = first
    * 32·K vectors by id — the K-sized sample the operator's scaladoc
    * mandates; a fixed 256-sample is measurably WORSE than no
    * refinement): same probe-limited search, same K, but the centroids
    * have moved toward corpus density — recall lands NEAR the flat
    * seeding's level on this corpus (0.950 vs the flat probe's 1.000,
    * AnnRecallSpec / SCALING.md — the refinement's value is on corpora
    * whose seeds don't already cover the distribution) with Σpop²
    * neutral. Since round 11 the refinement runs DISTRIBUTED (native
    * `NearestCentroid` E-step over the sample scan, sort-within-cell
    * M-step means; the driver holds only the k centroids) with the PQ
    * driver loop's exact arithmetic — LloydDistributedSpec pins the two
    * paths bit-equal — so the DuckDB twin re-derives the refined
    * centroids from the table (assign → id-ordered member means → empty
    * cells keep their seed) and the hash pins quantizer TRAINING
    * bit-for-bit, not just assignment. Note the training cost sits on
    * THIS query's timed path by design (plan-literal convention: the
    * centroids must exist before the search plan does); the flat probe
    * twin shows the search-only cost. */
  def xAnnIvfLloyd(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val kc = math.ceil(math.sqrt(emb.count().toDouble)).toInt
    graft.operators.Ann.ivfSearch(emb, emb.filter(col("vec_id") < 8),
      "vec_id", "embedding",
      graft.operators.Ann.centroidsLloyd(emb, "vec_id", "embedding", kc,
        iters = 1),
      nprobe = 3, k = 5)
  }

  /** Product-quantisation ADC search (`Ann.pqSearch`): the corpus encoded
    * as 8×16-code PQ (codebooks = subvector slices of the first 16
    * vectors, the same deterministic seeding convention as the IVF
    * centroids), the x_ann_cosine query set searched by table lookups
    * only. The DuckDB twin reproduces the whole pipeline — codebooks,
    * argmin encode, distance tables, subspace-ordered ADC sums — with the
    * identical dot-expansion arithmetic, so hashes pin the quantiser
    * bit-for-bit. */
  def xAnnPq(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    graft.operators.Ann.pqSearch(emb, emb.filter(col("vec_id") < 8),
      "vec_id", "embedding",
      graft.operators.Ann.pqCodebooks(emb, "vec_id", "embedding", m = 8, ksub = 16),
      k = 5)
  }

  /** x_ann_pq with one deterministic Lloyd refinement pass over the
    * codebooks (`Ann.pqCodebooksLloyd`, sample = first 256 vectors by
    * id): same encode/ADC pipeline, better-centred codes. The whole
    * refinement is driver-side and its arithmetic mirrors the dot
    * expansion, so the DuckDB twin re-derives the refined books from the
    * table (one unrolled assign→mean pass, member sums in vec_id order)
    * and the hash pins codebook training bit-for-bit. AnnRecallSpec
    * publishes the recall delta vs the untrained seeding. */
  def xAnnPqLloyd(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    graft.operators.Ann.pqSearch(emb, emb.filter(col("vec_id") < 8),
      "vec_id", "embedding",
      graft.operators.Ann.pqCodebooksLloyd(emb, "vec_id", "embedding",
        m = 8, ksub = 16, iters = 1, sampleN = 256),
      k = 5)
  }

  /** IVF-PQ (`Ann.ivfPqSearch`): the x_ann_pq quantiser searched through
    * the x_ann_ivf_probe index — nprobe = 3 cells per query, candidates
    * scored by ADC table lookups only. The compressed-index composition
    * both parents pin separately; its DuckDB twin reuses their exact
    * arithmetic, so hashes pin the whole pipeline bit-for-bit. */
  def xAnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    graft.operators.Ann.ivfPqSearch(emb, emb.filter(col("vec_id") < 8),
      "vec_id", "embedding", ivfCentroids(emb),
      graft.operators.Ann.pqCodebooks(emb, "vec_id", "embedding", m = 8, ksub = 16),
      nprobe = 3, k = 5)
  }

  /** IVF-PQ at nprobe = 8 with EXACT re-ranking of the ADC top-20
    * (`Ann.ivfPqSearch(rerank = 20)`): the mitigation for the measured
    * recall INVERSION — ivfpq_probe8 recall@5 (0.200) < ivfpq_probe3
    * (0.275), because ADC quantisation error admits false candidates as
    * the probe set grows and they displace true neighbours in the
    * approximate order. Re-scoring the ADC top-R (R = 4k) by exact
    * squared L2 restores monotonicity (AnnRecallSpec pins
    * probe8+rerank ≥ probe3); the exact pass is one broadcast-hash join
    * of R·|Q| candidates back into the raw vectors — the corpus still
    * never shuffles. The DuckDB twin appends the same top-R cut and
    * exact-expansion re-rank to the ivfpq oracle's CTEs. */
  def xAnnIvfPqRerank(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    graft.operators.Ann.ivfPqSearch(emb, emb.filter(col("vec_id") < 8),
      "vec_id", "embedding", ivfCentroids(emb),
      graft.operators.Ann.pqCodebooks(emb, "vec_id", "embedding", m = 8, ksub = 16),
      nprobe = 8, k = 5, rerank = 20)
  }

  /** IVF-PQ with RESIDUAL encoding (`Ann.ivfPqSearch(residual = true)`,
    * the classic formulation): each corpus vector is PQ-encoded as
    * `v − centroid(cell)` via the native `CentroidResidual` expression
    * (still one narrow scan), codebooks live in residual space
    * (`Ann.pqResidualCodebooks` — first-16 seeds, each replaced by its
    * residual to its nearest centroid), and each query builds its ADC
    * tables per probed cell from `q − centroid(cell)`. Measured on the
    * test corpus the classic formulation LOSES to raw encoding at equal
    * code budget (recall@5 0.200 vs 0.275 — one-shot residual seeds are
    * within-cell noise; see `Ann.ivfPqSearch`'s measured caveat), so
    * this row is the machinery pin and the honest negative result, not
    * a recommendation. The DuckDB twin re-derives residual seeds, corpus
    * residuals and per-cell query tables with the same element-wise
    * `CAST(… AS DOUBLE) − CAST(… AS DOUBLE)` arithmetic, so the hash
    * pins the whole residual pipeline bit-for-bit. */
  def xAnnIvfPqRes(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val cents = ivfCentroids(emb)
    graft.operators.Ann.ivfPqSearch(emb, emb.filter(col("vec_id") < 8),
      "vec_id", "embedding", cents,
      graft.operators.Ann.pqResidualCodebooks(emb, "vec_id", "embedding",
        cents, m = 8, ksub = 16),
      nprobe = 3, k = 5, residual = true)
  }

  /** x_ann_pq_lloyd at the STANDARD 8-bit PQ operating point: ksub = 256
    * codes per subspace (one Lloyd pass over a 32-per-code sized sample,
    * the `centroidsLloyd` sizing law applied to codebooks) instead of
    * the 4-bit ksub = 16. 16× the codebook, same m = 8 table-lookup
    * search cost per candidate — the recall/compression point a real
    * 100 TB deployment would run (codes are 8 bytes/vector either way
    * here; the 4-bit variant exists for the compression-floor end).
    * The encode argmin is the native `NearestCentroid` per subspace —
    * at ksub = 256 the old `array(dot…)` rendering would cross the JIT
    * bytecode ceiling (SCALING.md round 10's measured failure mode).
    * Oracle: the pq_lloyd SQL with parameterised seed/sample LIMITs. */
  def xAnnPq256(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    graft.operators.Ann.pqSearch(emb, emb.filter(col("vec_id") < 8),
      "vec_id", "embedding",
      graft.operators.Ann.pqCodebooksLloyd(emb, "vec_id", "embedding",
        m = 8, ksub = 256, iters = 1, sampleN = 8192),
      k = 5)
  }

  /** DuckDB rendering of [[graft.operators.Ann.lshBucket]] over `planes`.
    * When `sized`, every plane term i is additionally masked by
    * `i < np`, where the `npl` CTE derives np from `count(*)` with the
    * SAME integer comparison as `Ann.planesFor` (smallest p ≥ 1 with
    * 64·2^p ≥ n — no float log2, so no cross-libm boundary drift). The
    * sized SQL therefore adapts to any corpus size up to the embedded
    * 16-plane superset without being regenerated per scale. */
  private def duckBucketExpr(planes: Seq[Seq[Int]], sized: Boolean): String =
    planes.zipWithIndex.map { case (p, i) =>
      val dotGe0 = "list_sum(list_transform(range(1,65), j -> " +
        s"CAST(embedding[j] AS DOUBLE) * (${p.mkString("[", ",", "]")})[j])) >= 0"
      val cond = if (sized) s"$i < (SELECT np FROM npl) AND $dotGe0" else dotGe0
      s"(CASE WHEN $cond THEN ${1 << i} ELSE 0 END)"
    }.mkString(" + ")

  private val nplCte: String =
    """npl AS (
      |  SELECT (SELECT MIN(p) FROM range(1, 17) t(p)
      |          WHERE (SELECT count(*) FROM embeddings) <= (CAST(64 AS BIGINT) << p)) AS np),""".stripMargin

  /** DuckDB twin of [[graft.operators.TextStats.trainQualityModel]] as
    * `x_quality_trained` runs it: the ENTIRE 4-iteration full-batch
    * logistic-regression trajectory unrolled into CTEs — per-(doc,
    * bucket) feature counts (the quality_learned tokenizer + h32
    * convention), then per iteration the per-doc logit under the
    * current weights, the sigmoid errors, the bias step and the
    * per-bucket gradient step — finishing with the trained model
    * applied through the same mean-pooled scoring the native scan
    * uses. Per-term division (`cb * w / nd`) mirrors the Spark
    * operand order so the 4-dp doubles agree. */
  private val qualityTrainedOracleSql: String = {
    val iters = 4
    val lr = "0.5"
    val sb = new StringBuilder
    sb ++= """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[ \n\t\r]+'), t -> t != '') AS ts
      |  FROM documents),
      |feats AS (
      |  SELECT doc_id,
      |    unnest(ts || list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS f
      |  FROM toks),
      |bf AS (
      |  SELECT doc_id, ('0x'||substr(md5(f),1,8))::BIGINT % 256 AS b FROM feats),
      |docy AS (
      |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y FROM documents),
      |base AS (
      |  SELECT doc_id, b, cb, sum(cb) OVER (PARTITION BY doc_id) AS nd
      |  FROM (SELECT doc_id, b, CAST(count(*) AS DOUBLE) AS cb FROM bf GROUP BY 1, 2)),
      |nn AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM base),
      |e0 AS (
      |  SELECT d.doc_id, 0.5 - y.y AS e, d.nd
      |  FROM (SELECT DISTINCT doc_id, nd FROM base) d JOIN docy y USING (doc_id)),
      |""".stripMargin
    sb ++= s"""bb1 AS (SELECT 0.0 - $lr * avg(e) AS bias FROM e0),
      |w1 AS (
      |  SELECT base.b, 0.0 - $lr * (sum(e0.e * base.cb / base.nd) / (SELECT n FROM nn)) AS w
      |  FROM base JOIN e0 USING (doc_id) GROUP BY base.b),
      |""".stripMargin
    for (k <- 1 until iters) {
      sb ++= s"""l$k AS (
        |  SELECT base.doc_id,
        |    (SELECT bias FROM bb$k) + sum(base.cb * w$k.w / base.nd) AS logit,
        |    max(docy.y) AS y, max(base.nd) AS nd
        |  FROM base JOIN w$k USING (b) JOIN docy USING (doc_id) GROUP BY base.doc_id),
        |e$k AS (SELECT doc_id, 1.0/(1.0 + exp(-logit)) - y AS e, nd FROM l$k),
        |bb${k + 1} AS (SELECT (SELECT bias FROM bb$k) - $lr * avg(e) AS bias FROM e$k),
        |w${k + 1} AS (
        |  SELECT w$k.b, w$k.w - $lr * g.g AS w
        |  FROM w$k JOIN (
        |    SELECT base.b, sum(e$k.e * base.cb / base.nd) / (SELECT n FROM nn) AS g
        |    FROM base JOIN e$k USING (doc_id) GROUP BY base.b) g USING (b)),
        |""".stripMargin
    }
    sb ++= s"""sc AS (
      |  SELECT bf.doc_id, CAST(count(*) AS INT) AS nf, sum(w$iters.w) AS s
      |  FROM bf JOIN w$iters USING (b) GROUP BY bf.doc_id)
      |SELECT t.doc_id, coalesce(sc.nf, 0) AS n_features,
      |  round(1.0/(1.0 + exp(-((SELECT bias FROM bb$iters) + coalesce(sc.s / sc.nf, 0.0)))), 4) AS q_learned
      |FROM toks t LEFT JOIN sc USING (doc_id)""".stripMargin
    sb.toString
  }

  /** DuckDB twin of [[graft.operators.Ann.semDedup]] as `x_semdedup`
    * runs it: the ivf oracle's cents/assigned CTEs verbatim (same √N
    * quantizer, same argmin tie-break), the sized bucket expression,
    * centroid-cosine in the Spark operand order (vector first), then the
    * lexicographic (ccos, id) drop rule and strongest-witness ranking.
    * The pair cosine is dropped·witness with denominator b.nrm * a.nrm —
    * matching the Spark side exactly so the 4-dp doubles hash equal. */
  private def semDedupOracleFor(src: String, tau: String, pre: String): String = {
    val bucketExpr = duckBucketExpr(sizedPlanes, sized = true)
    def pairCos =
      "round(list_sum(list_transform(range(1,65), j -> CAST(b.embedding[j] AS DOUBLE) * CAST(a.embedding[j] AS DOUBLE))) / (b.nrm * a.nrm), 4)"
    s"""WITH ${pre}npl AS (
       |  SELECT (SELECT MIN(p) FROM range(1, 17) t(p)
       |          WHERE (SELECT count(*) FROM $src) <= (CAST(64 AS BIGINT) << p)) AS np),
       |cents AS (SELECT vec_id AS cent_id, embedding AS cent FROM $src
       |  WHERE vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM $src)),
       |assigned AS (
       |  SELECT vec_id, embedding, cent_id AS cell FROM (
       |    SELECT e.vec_id, e.embedding, c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${duckSqDist("e.embedding", "c.cent")}, c.cent_id) AS rn
       |    FROM $src e CROSS JOIN cents c) WHERE rn = 1),
       |sig AS (
       |  SELECT a.vec_id, a.embedding, a.cell, $bucketExpr AS bucket,
       |    sqrt(list_sum(list_transform(range(1,65), j -> CAST(a.embedding[j] AS DOUBLE) * CAST(a.embedding[j] AS DOUBLE)))) AS nrm,
       |    round(list_sum(list_transform(range(1,65), j -> CAST(a.embedding[j] AS DOUBLE) * CAST(c.cent[j] AS DOUBLE))) /
       |      (sqrt(list_sum(list_transform(range(1,65), j -> CAST(a.embedding[j] AS DOUBLE) * CAST(a.embedding[j] AS DOUBLE)))) *
       |       sqrt(list_sum(list_transform(range(1,65), j -> CAST(c.cent[j] AS DOUBLE) * CAST(c.cent[j] AS DOUBLE))))), 4) AS ccos
       |  FROM assigned a JOIN cents c ON a.cell = c.cent_id),
       |pairs AS (
       |  SELECT b.vec_id AS vec_id, b.cell AS cell, b.ccos AS cent_cos,
       |    a.vec_id AS witness, $pairCos AS cos_sim
       |  FROM sig a JOIN sig b
       |    ON a.cell = b.cell AND a.bucket = b.bucket AND a.vec_id != b.vec_id
       |  WHERE (a.ccos < b.ccos OR (a.ccos = b.ccos AND a.vec_id < b.vec_id))
       |    AND $pairCos >= $tau),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, witness) AS rn
       |  FROM pairs)
       |SELECT vec_id, cell, cent_cos, witness, cos_sim FROM ranked WHERE rn = 1""".stripMargin
  }

  private val semDedupOracleSql: String = semDedupOracleFor("embeddings", "0.2", "")

  /** DuckDB twin of [[xSemIngestLifecycle]]: the x_semdedup cents /
    * assigned / sig CTEs verbatim (same √N quantizer, argmin tie-break,
    * sized bucket expression and 4-dp ccos), then the GATE judgment
    * instead of the symmetric (ccos, id) drop rule — every vector
    * probes its (cell, bucket), drops iff any OTHER member reaches the
    * 4-dp pair cosine ≥ τ, witness = highest cosine then smallest id,
    * kept rows carry NULL witness/cos_sim and dropped = false. The
    * lifecycle-built index holds ALL vectors at `planesFor(count(*))`
    * planes whichever build/merge path ran (see the query scaladoc), so
    * the index side here is the same `sig` relation as the probe side.
    * Pair-cosine operands are probe-first / member-second with
    * denominator (p.nrm * m.nrm), mirroring the Spark gate exactly so
    * the 4-dp doubles hash equal. */
  private val semIngestLifecycleOracleSql: String = {
    val bucketExpr = duckBucketExpr(sizedPlanes, sized = true)
    val pairCos =
      "round(list_sum(list_transform(range(1,65), j -> CAST(p.embedding[j] AS DOUBLE) * CAST(m.embedding[j] AS DOUBLE))) / (p.nrm * m.nrm), 4)"
    s"""WITH npl AS (
       |  SELECT (SELECT MIN(p) FROM range(1, 17) t(p)
       |          WHERE (SELECT count(*) FROM embeddings) <= (CAST(64 AS BIGINT) << p)) AS np),
       |cents AS (SELECT vec_id AS cent_id, embedding AS cent FROM embeddings
       |  WHERE vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)),
       |assigned AS (
       |  SELECT vec_id, embedding, cent_id AS cell FROM (
       |    SELECT e.vec_id, e.embedding, c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${duckSqDist("e.embedding", "c.cent")}, c.cent_id) AS rn
       |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
       |sig AS (
       |  SELECT a.vec_id, a.embedding, a.cell, $bucketExpr AS bucket,
       |    sqrt(list_sum(list_transform(range(1,65), j -> CAST(a.embedding[j] AS DOUBLE) * CAST(a.embedding[j] AS DOUBLE)))) AS nrm,
       |    round(list_sum(list_transform(range(1,65), j -> CAST(a.embedding[j] AS DOUBLE) * CAST(c.cent[j] AS DOUBLE))) /
       |      (sqrt(list_sum(list_transform(range(1,65), j -> CAST(a.embedding[j] AS DOUBLE) * CAST(a.embedding[j] AS DOUBLE)))) *
       |       sqrt(list_sum(list_transform(range(1,65), j -> CAST(c.cent[j] AS DOUBLE) * CAST(c.cent[j] AS DOUBLE))))), 4) AS ccos
       |  FROM assigned a JOIN cents c ON a.cell = c.cent_id),
       |hits AS (
       |  SELECT p.vec_id, m.vec_id AS witness, $pairCos AS cos_sim
       |  FROM sig p JOIN sig m
       |    ON p.cell = m.cell AND p.bucket = m.bucket AND p.vec_id != m.vec_id
       |  WHERE $pairCos >= 0.2),
       |best AS (
       |  SELECT vec_id, witness, cos_sim,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, witness) AS rn
       |  FROM hits)
       |SELECT s.vec_id, s.cell, s.ccos AS cent_cos, b.witness, b.cos_sim,
       |  b.witness IS NOT NULL AS dropped
       |FROM sig s LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (vec_id)""".stripMargin
  }

  /** DuckDB twin of [[xSemDedupText]]: the x_text_embed CTEs compute the
    * RAW (unrounded) hashed embedding per doc — v exact ±1 integer sums,
    * n one sqrt, v/n one division, so both engines hold bit-identical
    * doubles — then the semDedup body runs verbatim over the computed
    * `temb` relation with its own count-derived npl/√N sizing. */
  private val semDedupTextOracleSql: String = semDedupOracleFor("temb", "0.8",
    """toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[ \n\t\r]+'), t -> t != '') AS ts
      |  FROM documents WHERE regexp_matches(text, '[^ \n\t\r]')),
      |feats AS (
      |  SELECT doc_id,
      |    unnest(ts || list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS f
      |  FROM toks),
      |hf AS (SELECT doc_id, ('0x'||substr(md5(f),1,8))::BIGINT AS h FROM feats),
      |eagg AS (
      |  SELECT doc_id, h % 64 AS j,
      |    sum(CASE WHEN h >= 2147483648 THEN -1.0 ELSE 1.0 END) AS v
      |  FROM hf GROUP BY 1, 2),
      |enrm AS (SELECT doc_id, sqrt(sum(v*v)) AS n FROM eagg GROUP BY 1),
      |egrid AS (SELECT t.doc_id, r.j FROM toks t CROSS JOIN range(0, 64) r(j)),
      |evec AS (
      |  SELECT g.doc_id, g.j, coalesce(a.v, 0.0) AS v
      |  FROM egrid g LEFT JOIN eagg a ON g.doc_id = a.doc_id AND g.j = a.j),
      |temb AS MATERIALIZED (
      |  SELECT v.doc_id AS vec_id,
      |    list(CASE WHEN n.n > 0 THEN v.v / n.n ELSE 0.0 END ORDER BY v.j) AS embedding
      |  FROM evec v JOIN enrm n USING (doc_id) GROUP BY v.doc_id),
      |""".stripMargin)

  private def dedupEmbeddingOracleSqlFor(planes: Seq[Seq[Int]], sized: Boolean): String = {
    val bucketExpr = duckBucketExpr(planes, sized)
    val npl = if (sized) nplCte + "\n" else ""
    s"""WITH $npl sig AS (
       |  SELECT vec_id, embedding, $bucketExpr AS bucket,
       |    sqrt(list_sum(list_transform(range(1,65), j -> CAST(embedding[j] AS DOUBLE) * CAST(embedding[j] AS DOUBLE)))) AS norm
       |  FROM embeddings)
       |SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
       |  round(list_sum(list_transform(range(1,65), j -> CAST(a.embedding[j] AS DOUBLE) * CAST(b.embedding[j] AS DOUBLE))) / (a.norm * b.norm), 4) AS cos_sim
       |FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE round(list_sum(list_transform(range(1,65), j -> CAST(a.embedding[j] AS DOUBLE) * CAST(b.embedding[j] AS DOUBLE))) / (a.norm * b.norm), 4) >= 0.2""".stripMargin
  }

  /** DuckDB rendering of the Spark side's squared-L2 dot expansion
    * (`Ann.sqDistances`): `(v·v − 2·v·c) + c·c`, each term a list_sum of
    * element-wise double products in the same left-to-right order as the
    * native DotProduct's fold (and the driver-side norm fold), so both
    * engines produce bit-identical doubles and the same argmin. The
    * Spark side hoists v·v as a common subexpression; recomputing it
    * per (v, c) pair here yields the identical value. */
  private def duckSqDist(v: String, c: String): String =
    s"(list_sum(list_transform(range(1,65), j -> CAST($v[j] AS DOUBLE) * CAST($v[j] AS DOUBLE)))" +
      s" - 2 * list_sum(list_transform(range(1,65), j -> CAST($v[j] AS DOUBLE) * CAST($c[j] AS DOUBLE))))" +
      s" + list_sum(list_transform(range(1,65), j -> CAST($c[j] AS DOUBLE) * CAST($c[j] AS DOUBLE)))"

  /** DuckDB rendering of [[graft.operators.TextStats.quality]] (4 dp) —
    * verbatim from the green `x_quality` oracle row, shared by the
    * selection oracles (quality_filter / source_cap / token_budget) so
    * the per-doc scores are bit-identical across all four. */
  private val duckQualityExpr: String =
    "round(least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0, 1.0) * " +
      "(1.0 - CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE) / length(text)), 4)"

  private val ivfOracleSql: String =
    s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS cent FROM embeddings
      |  WHERE vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)),
      |assigned AS (
      |  SELECT vec_id, embedding, cent_id AS cell FROM (
      |    SELECT e.vec_id, e.embedding, c.cent_id,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        ${duckSqDist("e.embedding", "c.cent")}, c.cent_id) AS rn
      |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
      |pairs AS (
      |  SELECT a.vec_id AS vec_id, a.cell AS cell, b.vec_id AS neighbor,
      |    round(list_sum(list_transform(range(1,65), j -> CAST(a.embedding[j] AS DOUBLE) * CAST(b.embedding[j] AS DOUBLE))) /
      |      (sqrt(list_sum(list_transform(range(1,65), j -> CAST(a.embedding[j] AS DOUBLE) * CAST(a.embedding[j] AS DOUBLE)))) *
      |       sqrt(list_sum(list_transform(range(1,65), j -> CAST(b.embedding[j] AS DOUBLE) * CAST(b.embedding[j] AS DOUBLE))))), 4) AS cos_sim
      |  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id != b.vec_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor) AS rn
      |  FROM pairs)
      |SELECT vec_id, cell, neighbor, cos_sim FROM ranked WHERE rn = 1""".stripMargin

  /** DuckDB mirror of Ann.assignCellsHier + annIvf: centroids in id
    * order are cut into ⌈√K⌉-sized blocks by POSITION (pos // g), the
    * block's first centroid (bpos = 0) is its representative, a vector
    * picks its nearest representative (ties → lower block id, Spark's
    * first-array-minimum) and then its nearest centroid within that
    * block only (ties → lower cent_id = lower block position). The
    * distance arithmetic is verbatim from the ivf oracle, so float
    * parity carries over; search/rank CTEs are identical. */
  private val ivfHierOracleSql: String =
    s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS cent,
      |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS pos
      |  FROM embeddings
      |  WHERE vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)),
      |blocks AS (
      |  SELECT cent_id, cent, pos,
      |    pos // (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM cents) AS gid,
      |    pos %  (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM cents) AS bpos
      |  FROM cents),
      |reps AS (SELECT gid, cent AS rep FROM blocks WHERE bpos = 0),
      |coarse AS (
      |  SELECT vec_id, embedding, gid FROM (
      |    SELECT e.vec_id, e.embedding, r.gid,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        ${duckSqDist("e.embedding", "r.rep")}, r.gid) AS rn
      |    FROM embeddings e CROSS JOIN reps r) WHERE rn = 1),
      |assigned AS (
      |  SELECT vec_id, embedding, cent_id AS cell FROM (
      |    SELECT co.vec_id, co.embedding, b.cent_id,
      |      row_number() OVER (PARTITION BY co.vec_id ORDER BY
      |        ${duckSqDist("co.embedding", "b.cent")}, b.cent_id) AS rn
      |    FROM coarse co JOIN blocks b ON b.gid = co.gid) WHERE rn = 1),
      |pairs AS (
      |  SELECT a.vec_id AS vec_id, a.cell AS cell, b.vec_id AS neighbor,
      |    round(list_sum(list_transform(range(1,65), j -> CAST(a.embedding[j] AS DOUBLE) * CAST(b.embedding[j] AS DOUBLE))) /
      |      (sqrt(list_sum(list_transform(range(1,65), j -> CAST(a.embedding[j] AS DOUBLE) * CAST(a.embedding[j] AS DOUBLE)))) *
      |       sqrt(list_sum(list_transform(range(1,65), j -> CAST(b.embedding[j] AS DOUBLE) * CAST(b.embedding[j] AS DOUBLE))))), 4) AS cos_sim
      |  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id != b.vec_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor) AS rn
      |  FROM pairs)
      |SELECT vec_id, cell, neighbor, cos_sim FROM ranked WHERE rn = 1""".stripMargin

  /** The probe-search tail shared by the flat and Lloyd probe oracles —
    * everything downstream of a `cents(cent_id, cent)` CTE: corpus
    * assignment, the vec_id < 8 query set, nprobe = 3 cell fan-out,
    * within-cell cosine scoring, top-5 ranking. Shared verbatim so the
    * two pipelines differ ONLY in centroid derivation (the pq /
    * pq_lloyd precedent). */
  private val ivfProbeTailSql: String =
    s"""assigned AS (
      |  SELECT vec_id, embedding, cent_id AS cell FROM (
      |    SELECT e.vec_id, e.embedding, c.cent_id,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        ${duckSqDist("e.embedding", "c.cent")}, c.cent_id) AS rn
      |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
      |queries AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
      |qcells AS (
      |  SELECT q_id, q_emb, cent_id AS cell FROM (
      |    SELECT q.q_id, q.q_emb, c.cent_id,
      |      row_number() OVER (PARTITION BY q.q_id ORDER BY
      |        ${duckSqDist("q.q_emb", "c.cent")}, c.cent_id) AS rn
      |    FROM queries q CROSS JOIN cents c) WHERE rn <= 3),
      |scored AS (
      |  SELECT qc.q_id, a.vec_id,
      |    list_sum(list_transform(range(1,65), j -> CAST(qc.q_emb[j] AS DOUBLE) * CAST(a.embedding[j] AS DOUBLE))) /
      |      (sqrt(list_sum(list_transform(range(1,65), j -> CAST(qc.q_emb[j] AS DOUBLE) * CAST(qc.q_emb[j] AS DOUBLE)))) *
      |       sqrt(list_sum(list_transform(range(1,65), j -> CAST(a.embedding[j] AS DOUBLE) * CAST(a.embedding[j] AS DOUBLE))))) AS cos
      |  FROM qcells qc JOIN assigned a ON a.cell = qc.cell AND a.vec_id != qc.q_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank FROM scored)
      |SELECT q_id, rank, vec_id AS neighbor, round(cos, 4) AS cos_sim
      |FROM ranked WHERE rank <= 5""".stripMargin

  /** DuckDB mirror of Ann.ivfSearch with nprobe = 3, k = 5 over the
    * vec_id < 8 query set — same quantizer, same tie-breaks (dist then
    * cent_id for probe cells; cos DESC then vec_id for ranks). */
  private val ivfProbeOracleSql: String =
    s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS cent FROM embeddings
      |  WHERE vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)),
      |$ivfProbeTailSql""".stripMargin

  /** DuckDB mirror of Ann.centroidsLloyd(iters = 1, sampleN = 32·K) +
    * ivfSearch: the pq_lloyd oracle's one unrolled Lloyd pass with a
    * single subspace spanning the full 64 dimensions — cents0 = the
    * first-⌈√N⌉-by-id seeding cast element-wise to DOUBLE, asg0 = each
    * sample vector's nearest seed under the dot expansion (ties → lower
    * cent_id, Spark's first-minimum over seeds in id order), dims =
    * per-(centroid, dimension) member mean with the sum folded in vec_id
    * order (list_sum over an ORDER BY vec_id list — the driver folds
    * members in the same order), cents = refined vectors with empty
    * cells keeping their seed (LEFT JOIN + coalesce). The sample LIMIT
    * derives 32·K from count(*) with the same integer rule as the Spark
    * side (LIMIT past the row count = whole table, both engines), so
    * the SQL adapts to any corpus size without regeneration — the
    * sized-LSH npl precedent. The search tail is byte-identical to the
    * flat probe oracle's. (Same DuckDB-version caveat as the pq_lloyd
    * oracle: the id-ordered member sum leans on `list_sum(list(… ORDER
    * BY …))` folding in list order — empirical, not contractual.) */
  private val ivfLloydProbeOracleSql: String =
    s"""WITH cents0 AS (
      |  SELECT vec_id AS cent_id,
      |    list_transform(range(1,65), t -> CAST(embedding[t] AS DOUBLE)) AS cvec
      |  FROM embeddings
      |  WHERE vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)),
      |svecs AS (
      |  SELECT vec_id, list_transform(range(1,65), t -> CAST(embedding[t] AS DOUBLE)) AS svec
      |  FROM embeddings ORDER BY vec_id
      |  LIMIT (SELECT 32 * CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)),
      |asg0 AS (
      |  SELECT vec_id, cent_id, svec FROM (
      |    SELECT v.vec_id, c.cent_id, v.svec,
      |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
      |        (list_sum(list_transform(range(1,65), t -> v.svec[t] * v.svec[t]))
      |         - 2 * list_sum(list_transform(range(1,65), t -> v.svec[t] * c.cvec[t])))
      |         + list_sum(list_transform(range(1,65), t -> c.cvec[t] * c.cvec[t])), c.cent_id) AS rn
      |    FROM svecs v CROSS JOIN cents0 c) WHERE rn = 1),
      |dims AS (
      |  SELECT a.cent_id, t.t,
      |    list_sum(list(a.svec[t.t] ORDER BY a.vec_id)) / count(*) AS mu
      |  FROM asg0 a CROSS JOIN (SELECT unnest(range(1, 65)) AS t) t
      |  GROUP BY a.cent_id, t.t),
      |refined AS (
      |  SELECT cent_id, list(mu ORDER BY t) AS cvec FROM dims GROUP BY cent_id),
      |cents AS (
      |  SELECT c0.cent_id, coalesce(r.cvec, c0.cvec) AS cent
      |  FROM cents0 c0 LEFT JOIN refined r ON r.cent_id = c0.cent_id),
      |$ivfProbeTailSql""".stripMargin

  /** DuckDB mirror of Ann.ivfSearch(twoLevel = true) with nprobe = 3,
    * k = 5 over the vec_id < 8 query set: the hier oracle's assignment
    * CTEs (cents/blocks/reps/coarse/assigned) composed with the probe
    * oracle's search CTEs (queries/qcells/scored/ranked), every distance
    * the shared dot expansion — so float parity carries over from both
    * parents. Queries probe by exact distance to ALL centroids (the
    * Spark side does the same; only the corpus assignment is
    * hierarchical). */
  private val ivfHierProbeOracleSql: String =
    s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS cent,
      |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS pos
      |  FROM embeddings
      |  WHERE vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)),
      |blocks AS (
      |  SELECT cent_id, cent, pos,
      |    pos // (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM cents) AS gid,
      |    pos %  (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM cents) AS bpos
      |  FROM cents),
      |reps AS (SELECT gid, cent AS rep FROM blocks WHERE bpos = 0),
      |coarse AS (
      |  SELECT vec_id, embedding, gid FROM (
      |    SELECT e.vec_id, e.embedding, r.gid,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        ${duckSqDist("e.embedding", "r.rep")}, r.gid) AS rn
      |    FROM embeddings e CROSS JOIN reps r) WHERE rn = 1),
      |assigned AS (
      |  SELECT vec_id, embedding, cent_id AS cell FROM (
      |    SELECT co.vec_id, co.embedding, b.cent_id,
      |      row_number() OVER (PARTITION BY co.vec_id ORDER BY
      |        ${duckSqDist("co.embedding", "b.cent")}, b.cent_id) AS rn
      |    FROM coarse co JOIN blocks b ON b.gid = co.gid) WHERE rn = 1),
      |queries AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
      |qcells AS (
      |  SELECT q_id, q_emb, cent_id AS cell FROM (
      |    SELECT q.q_id, q.q_emb, c.cent_id,
      |      row_number() OVER (PARTITION BY q.q_id ORDER BY
      |        ${duckSqDist("q.q_emb", "c.cent")}, c.cent_id) AS rn
      |    FROM queries q CROSS JOIN cents c) WHERE rn <= 3),
      |scored AS (
      |  SELECT qc.q_id, a.vec_id,
      |    list_sum(list_transform(range(1,65), j -> CAST(qc.q_emb[j] AS DOUBLE) * CAST(a.embedding[j] AS DOUBLE))) /
      |      (sqrt(list_sum(list_transform(range(1,65), j -> CAST(qc.q_emb[j] AS DOUBLE) * CAST(qc.q_emb[j] AS DOUBLE)))) *
      |       sqrt(list_sum(list_transform(range(1,65), j -> CAST(a.embedding[j] AS DOUBLE) * CAST(a.embedding[j] AS DOUBLE))))) AS cos
      |  FROM qcells qc JOIN assigned a ON a.cell = qc.cell AND a.vec_id != qc.q_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank FROM scored)
      |SELECT q_id, rank, vec_id AS neighbor, round(cos, 4) AS cos_sim
      |FROM ranked WHERE rank <= 5""".stripMargin

  /** DuckDB mirror of Ann.pqSearch (m = 8 subspaces, ksub = 16, k = 5,
    * queries vec_id < 8). Bit-parity notes: every squared distance is the
    * dot expansion `(s·s − 2·s·c) + c·c` with each factor CAST to DOUBLE
    * element-wise and summed left-to-right (list_sum), exactly the
    * arithmetic the Spark side generates (native DotProduct + a
    * driver-side left fold for the code norm); the ADC total sums the
    * per-subspace lookups in subspace order via list(... ORDER BY sub);
    * argmin ties break on the lower code id (Spark: first array minimum).
    */
  /** The search tail shared by the plain-PQ and Lloyd-PQ oracles —
    * everything downstream of a `books(sub, code, cvec)` CTE: encode,
    * query tables, subspace-ordered ADC sums, ranking. Shared verbatim
    * so the two pipelines differ ONLY in codebook derivation. */
  private val pqSearchTailSql: String =
    """enc0 AS (
      |  SELECT e.vec_id, b.sub, b.code,
      |    (list_sum(list_transform(range(1, 9), t ->
      |       CAST(e.embedding[b.sub*8 + t] AS DOUBLE) * CAST(e.embedding[b.sub*8 + t] AS DOUBLE)))
      |     - 2 * list_sum(list_transform(range(1, 9), t ->
      |       CAST(e.embedding[b.sub*8 + t] AS DOUBLE) * b.cvec[t])))
      |     + list_sum(list_transform(range(1, 9), t -> b.cvec[t] * b.cvec[t])) AS dist
      |  FROM embeddings e CROSS JOIN books b),
      |codes AS (
      |  SELECT vec_id, sub, code FROM (
      |    SELECT vec_id, sub, code,
      |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
      |    FROM enc0) WHERE rn = 1),
      |qtab AS (
      |  SELECT q.vec_id AS q_id, b.sub, b.code,
      |    (list_sum(list_transform(range(1, 9), t ->
      |       CAST(q.embedding[b.sub*8 + t] AS DOUBLE) * CAST(q.embedding[b.sub*8 + t] AS DOUBLE)))
      |     - 2 * list_sum(list_transform(range(1, 9), t ->
      |       CAST(q.embedding[b.sub*8 + t] AS DOUBLE) * b.cvec[t])))
      |     + list_sum(list_transform(range(1, 9), t -> b.cvec[t] * b.cvec[t])) AS qdist
      |  FROM embeddings q CROSS JOIN books b WHERE q.vec_id < 8),
      |scored AS (
      |  SELECT t.q_id, c.vec_id, list_sum(list(t.qdist ORDER BY t.sub)) AS adc
      |  FROM codes c JOIN qtab t ON t.sub = c.sub AND t.code = c.code
      |  WHERE c.vec_id != t.q_id
      |  GROUP BY t.q_id, c.vec_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS rank
      |  FROM scored)
      |SELECT q_id, rank, vec_id AS neighbor, round(adc, 4) AS adc_dist
      |FROM ranked WHERE rank <= 5""".stripMargin

  private val pqOracleSql: String =
    s"""WITH seeds AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, embedding
      |  FROM embeddings ORDER BY vec_id LIMIT 16),
      |subs AS (SELECT unnest(range(0, 8)) AS sub),
      |books AS (
      |  SELECT s.sub AS sub, d.code AS code,
      |    list_transform(range(1, 9), t -> CAST(d.embedding[s.sub*8 + t] AS DOUBLE)) AS cvec
      |  FROM seeds d CROSS JOIN subs s),
      |$pqSearchTailSql""".stripMargin

  /** DuckDB mirror of Ann.pqCodebooksLloyd(iters = 1, sampleN = 256) +
    * pqSearch: one unrolled Lloyd pass — books0 = the first-ksub
    * seeding, asg0 = each sample subvector's nearest code under the dot
    * expansion (ties → lower code, row_number), dims = per-(sub, code,
    * dimension) member mean with the sum folded in vec_id order
    * (list_sum over an ORDER BY vec_id list — the driver folds members
    * in the same order), books = refined vectors with empty cells
    * keeping their seed (LEFT JOIN + coalesce). The search tail is
    * byte-identical to the plain pq oracle's.
    *
    * DuckDB-version caveat: the bit-for-bit claim leans on
    * `list_sum(list(x ORDER BY …))` summing in list order — empirically
    * true on the pinned DuckDB (every hash green) but not a documented
    * contract. If a DuckDB upgrade ever breaks ONLY the `*_lloyd`
    * hashes on FP-sensitive data, suspect a vectorised/reordered
    * list_sum before suspecting this code. */
  private def pqLloydOracleSqlFor(ksub: Int, sampleN: Int): String =
    s"""WITH sample AS (
      |  SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $sampleN),
      |seeds AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, embedding
      |  FROM embeddings ORDER BY vec_id LIMIT $ksub),
      |subs AS (SELECT unnest(range(0, 8)) AS sub),
      |books0 AS (
      |  SELECT s.sub AS sub, d.code AS code,
      |    list_transform(range(1, 9), t -> CAST(d.embedding[s.sub*8 + t] AS DOUBLE)) AS cvec
      |  FROM seeds d CROSS JOIN subs s),
      |svecs AS (
      |  SELECT e.vec_id, s.sub,
      |    list_transform(range(1, 9), t -> CAST(e.embedding[s.sub*8 + t] AS DOUBLE)) AS svec
      |  FROM sample e CROSS JOIN subs s),
      |asg0 AS (
      |  SELECT vec_id, sub, code, svec FROM (
      |    SELECT v.vec_id, v.sub, b.code, v.svec,
      |      row_number() OVER (PARTITION BY v.vec_id, v.sub ORDER BY
      |        (list_sum(list_transform(range(1, 9), t -> v.svec[t] * v.svec[t]))
      |         - 2 * list_sum(list_transform(range(1, 9), t -> v.svec[t] * b.cvec[t])))
      |         + list_sum(list_transform(range(1, 9), t -> b.cvec[t] * b.cvec[t])), b.code) AS rn
      |    FROM svecs v JOIN books0 b ON b.sub = v.sub) WHERE rn = 1),
      |dims AS (
      |  SELECT a.sub, a.code, t.t,
      |    list_sum(list(a.svec[t.t] ORDER BY a.vec_id)) / count(*) AS mu
      |  FROM asg0 a CROSS JOIN (SELECT unnest(range(1, 9)) AS t) t
      |  GROUP BY a.sub, a.code, t.t),
      |refined AS (
      |  SELECT sub, code, list(mu ORDER BY t) AS cvec FROM dims GROUP BY sub, code),
      |books AS (
      |  SELECT b0.sub, b0.code, coalesce(r.cvec, b0.cvec) AS cvec
      |  FROM books0 b0 LEFT JOIN refined r ON r.sub = b0.sub AND r.code = b0.code),
      |$pqSearchTailSql""".stripMargin

  private val pqLloydOracleSql: String = pqLloydOracleSqlFor(ksub = 16, sampleN = 256)

  /** DuckDB mirror of Ann.ivfPqSearch (m = 8, ksub = 16, k = 5, queries
    * vec_id < 8), parameterised exactly like the operator: the ivf_probe
    * oracle's quantizer CTEs (cents / assigned / qcells at `nprobe`)
    * composed with the pq oracle's codebook CTEs (seeds / books / codes /
    * qtab), candidates restricted to the probed cells before the ADC
    * group-by. Every arithmetic expression is verbatim from one of the
    * two parents, so bit parity carries over.
    *
    * `residual = true` swaps in residual space end to end: seeds become
    * their residuals to their assigned cell (seedr — the same assignment
    * CTE the corpus uses, so the cell choice is the operator's driver
    * argmin verbatim), the corpus encodes `v − cent(cell)` (rcorp) and
    * each query's ADC tables derive from `q − cent(cell)` PER PROBED
    * CELL (qres/qtab carry the cell key). Every residual element is
    * `CAST(v[t] AS DOUBLE) − CAST(c[t] AS DOUBLE)` — one IEEE op, no
    * fold — matching the native CentroidResidual bit-for-bit.
    *
    * `rerank = R > 0` appends the operator's exact re-rank: top-R by
    * (adc, vec_id) per query, re-scored with the exact dot expansion
    * duckSqDist(candidate, query), re-ranked by (l2, vec_id) — output
    * carries `l2_dist` instead of `adc_dist`. */
  private def ivfPqOracleSqlFor(nprobe: Int, residual: Boolean,
                                rerank: Int): String = {
    val head =
      s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS cent FROM embeddings
        |  WHERE vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)),
        |assigned AS (
        |  SELECT vec_id, cent_id AS cell FROM (
        |    SELECT e.vec_id, c.cent_id,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        ${duckSqDist("e.embedding", "c.cent")}, c.cent_id) AS rn
        |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
        |qcells AS (
        |  SELECT q_id, cent_id AS cell FROM (
        |    SELECT q.vec_id AS q_id, c.cent_id,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        ${duckSqDist("q.embedding", "c.cent")}, c.cent_id) AS rn
        |    FROM embeddings q CROSS JOIN cents c WHERE q.vec_id < 8) WHERE rn <= $nprobe),""".stripMargin
    val mid = if (!residual)
      s"""seeds AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, embedding
        |  FROM embeddings ORDER BY vec_id LIMIT 16),
        |subs AS (SELECT unnest(range(0, 8)) AS sub),
        |books AS (
        |  SELECT s.sub AS sub, d.code AS code,
        |    list_transform(range(1, 9), t -> CAST(d.embedding[s.sub*8 + t] AS DOUBLE)) AS cvec
        |  FROM seeds d CROSS JOIN subs s),
        |enc0 AS (
        |  SELECT e.vec_id, b.sub, b.code,
        |    (list_sum(list_transform(range(1, 9), t ->
        |       CAST(e.embedding[b.sub*8 + t] AS DOUBLE) * CAST(e.embedding[b.sub*8 + t] AS DOUBLE)))
        |     - 2 * list_sum(list_transform(range(1, 9), t ->
        |       CAST(e.embedding[b.sub*8 + t] AS DOUBLE) * b.cvec[t])))
        |     + list_sum(list_transform(range(1, 9), t -> b.cvec[t] * b.cvec[t])) AS dist
        |  FROM embeddings e CROSS JOIN books b),
        |codes AS (
        |  SELECT vec_id, sub, code FROM (
        |    SELECT vec_id, sub, code,
        |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
        |    FROM enc0) WHERE rn = 1),
        |qtab AS (
        |  SELECT q.vec_id AS q_id, b.sub, b.code,
        |    (list_sum(list_transform(range(1, 9), t ->
        |       CAST(q.embedding[b.sub*8 + t] AS DOUBLE) * CAST(q.embedding[b.sub*8 + t] AS DOUBLE)))
        |     - 2 * list_sum(list_transform(range(1, 9), t ->
        |       CAST(q.embedding[b.sub*8 + t] AS DOUBLE) * b.cvec[t])))
        |     + list_sum(list_transform(range(1, 9), t -> b.cvec[t] * b.cvec[t])) AS qdist
        |  FROM embeddings q CROSS JOIN books b WHERE q.vec_id < 8),
        |scored AS (
        |  SELECT t.q_id, c.vec_id, list_sum(list(t.qdist ORDER BY t.sub)) AS adc
        |  FROM codes c
        |  JOIN assigned a ON a.vec_id = c.vec_id
        |  JOIN qcells qc ON qc.cell = a.cell
        |  JOIN qtab t ON t.q_id = qc.q_id AND t.sub = c.sub AND t.code = c.code
        |  WHERE c.vec_id != qc.q_id
        |  GROUP BY t.q_id, c.vec_id),""".stripMargin
    else
      s"""seedr AS (
        |  SELECT e.vec_id,
        |    list_transform(range(1, 65), t ->
        |      CAST(e.embedding[t] AS DOUBLE) - CAST(c.cent[t] AS DOUBLE)) AS rvec
        |  FROM (SELECT vec_id, embedding FROM embeddings
        |        WHERE vec_id > (SELECT max(cent_id) FROM cents)
        |        ORDER BY vec_id LIMIT 16) e
        |  JOIN assigned a ON a.vec_id = e.vec_id
        |  JOIN cents c ON c.cent_id = a.cell),
        |subs AS (SELECT unnest(range(0, 8)) AS sub),
        |books AS (
        |  SELECT s.sub AS sub, d.code AS code,
        |    list_transform(range(1, 9), t -> d.rvec[s.sub*8 + t]) AS cvec
        |  FROM (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, rvec
        |        FROM seedr) d CROSS JOIN subs s),
        |rcorp AS (
        |  SELECT a.vec_id, a.cell,
        |    list_transform(range(1, 65), t ->
        |      CAST(e.embedding[t] AS DOUBLE) - CAST(c.cent[t] AS DOUBLE)) AS rvec
        |  FROM assigned a
        |  JOIN embeddings e ON e.vec_id = a.vec_id
        |  JOIN cents c ON c.cent_id = a.cell),
        |enc0 AS (
        |  SELECT r.vec_id, b.sub, b.code,
        |    (list_sum(list_transform(range(1, 9), t ->
        |       r.rvec[b.sub*8 + t] * r.rvec[b.sub*8 + t]))
        |     - 2 * list_sum(list_transform(range(1, 9), t ->
        |       r.rvec[b.sub*8 + t] * b.cvec[t])))
        |     + list_sum(list_transform(range(1, 9), t -> b.cvec[t] * b.cvec[t])) AS dist
        |  FROM rcorp r CROSS JOIN books b),
        |codes AS (
        |  SELECT vec_id, sub, code FROM (
        |    SELECT vec_id, sub, code,
        |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
        |    FROM enc0) WHERE rn = 1),
        |qres AS (
        |  SELECT qc.q_id, qc.cell,
        |    list_transform(range(1, 65), t ->
        |      CAST(q.embedding[t] AS DOUBLE) - CAST(c.cent[t] AS DOUBLE)) AS rvec
        |  FROM qcells qc
        |  JOIN embeddings q ON q.vec_id = qc.q_id
        |  JOIN cents c ON c.cent_id = qc.cell),
        |qtab AS (
        |  SELECT r.q_id, r.cell, b.sub, b.code,
        |    (list_sum(list_transform(range(1, 9), t ->
        |       r.rvec[b.sub*8 + t] * r.rvec[b.sub*8 + t]))
        |     - 2 * list_sum(list_transform(range(1, 9), t ->
        |       r.rvec[b.sub*8 + t] * b.cvec[t])))
        |     + list_sum(list_transform(range(1, 9), t -> b.cvec[t] * b.cvec[t])) AS qdist
        |  FROM qres r CROSS JOIN books b),
        |scored AS (
        |  SELECT t.q_id, c.vec_id, list_sum(list(t.qdist ORDER BY t.sub)) AS adc
        |  FROM codes c
        |  JOIN assigned a ON a.vec_id = c.vec_id
        |  JOIN qtab t ON t.cell = a.cell AND t.sub = c.sub AND t.code = c.code
        |  WHERE c.vec_id != t.q_id
        |  GROUP BY t.q_id, c.vec_id),""".stripMargin
    val tail = if (rerank <= 0)
      """ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS rank
        |  FROM scored)
        |SELECT q_id, rank, vec_id AS neighbor, round(adc, 4) AS adc_dist
        |FROM ranked WHERE rank <= 5""".stripMargin
    else
      s"""adcranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS arank
        |  FROM scored),
        |cand AS (SELECT q_id, vec_id FROM adcranked WHERE arank <= $rerank),
        |exact AS (
        |  SELECT cd.q_id, cd.vec_id,
        |    ${duckSqDist("e.embedding", "q.embedding")} AS l2
        |  FROM cand cd
        |  JOIN embeddings e ON e.vec_id = cd.vec_id
        |  JOIN embeddings q ON q.vec_id = cd.q_id),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY l2, vec_id) AS rank
        |  FROM exact)
        |SELECT q_id, rank, vec_id AS neighbor, round(l2, 4) AS l2_dist
        |FROM ranked WHERE rank <= 5""".stripMargin
    s"$head\n$mid\n$tail"
  }

  private val ivfPqOracleSql: String =
    ivfPqOracleSqlFor(nprobe = 3, residual = false, rerank = 0)

  /** Sliding (hopping) event-time window: 2-hour windows every hour. */
  def w3Sliding(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_type"), (col("ts_ms") - pmod(col("ts_ms"), lit(3600000L))).as("hour0"))
      .select(col("event_type"), explode(array(col("hour0"), col("hour0") - 3600000L)).as("win_start"))
      .groupBy("event_type", "win_start")
      .agg(count(lit(1)).as("n"))

  /** Embedding-cosine near-duplicate pairs: LSH-bucketed candidates with
    * cosine above a threshold — the embedding flavour of dedup (same
    * bucket machinery as x_ann_lsh; threshold keeps only true near-dups).
    */
  def xDedupEmbedding(s: SparkSession, dir: String): DataFrame =
    dedupEmbedding(T(s, dir, "embeddings"), lshPlanes)

  /** The embedding-dedup twin of `x_ann_lsh_sized`: same near-dup
    * semantics as `x_dedup_embedding`, but with the corpus-sized plane
    * count — the configuration that stays linear at 100 TB. */
  def xDedupEmbeddingSized(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    dedupEmbedding(emb, sizedPlanesFor(emb.count()))
  }

  /** SemDedup ([[graft.operators.Ann.semDedup]], Abbas et al. 2023):
    * cluster-scoped embedding dedup with the keep-farthest-from-centroid
    * policy. √N deterministic cells (the ivf quantizer both engines
    * replicate), corpus-sized LSH buckets bounding within-cell pair
    * work, tau = 0.2 on the 4-dp cosine (the `x_dedup_embedding`
    * threshold precedent — the synthetic embeddings' near-dup band). */
  def xSemDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    graft.operators.Ann.semDedup(emb, "vec_id", "embedding",
      ivfCentroids(emb), sizedPlanesFor(emb.count()), tau = 0.2)
  }

  /** RAW TEXT → [[graft.operators.TextStats.textEmbedding]] →
    * [[graft.operators.Ann.semDedup]] — the advertised
    * [[graft.functions.HashedEmbedding]] contract ("the bridge that
    * makes the whole vector stack applicable to a text corpus without
    * external embeddings") pinned END TO END: centroids and planes are
    * derived from the EMBEDDED corpus by the same sizing laws the
    * synthetic-embeddings row uses (first-⌈√N⌉-ids quantizer,
    * `planesFor` bucket sizing), so the only new ingredient is the
    * embedding scan itself. Token-less docs are filtered on the raw
    * column ([[xTextEmbed]]'s input-side rule), which also guarantees
    * no zero vectors reach the cosine (NaN comparison semantics differ
    * across engines). tau = 0.8: hashed bag-of-ngram vectors of true
    * near-dup docs sit near 1; unrelated docs share only stopword mass. */
  def xSemDedupText(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "documents")
      .filter(col("text").rlike("[^ \n\t\r]"))
      .select(col("doc_id").as("vec_id"),
        graft.operators.TextStats.textEmbedding(col("text"), 64).as("embedding"))
    graft.operators.Ann.semDedup(emb, "vec_id", "embedding",
      ivfCentroids(emb), sizedPlanesFor(emb.count()), tau = 0.8)
  }

  private def dedupEmbedding(emb: DataFrame, planes: Seq[Seq[Int]]): DataFrame = {
    val sig = emb
      .withColumn("bucket", graft.operators.Ann.lshBucket(col("embedding"), planes))
      .withColumn("norm", normCol(col("embedding")))
    val dot = dotCols(col("a.embedding"), col("b.embedding"))
    sig.as("a").hint("shuffle_hash").join(sig.as("b").hint("shuffle_hash"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("doc_a"), col("b.vec_id").as("doc_b"),
        round(dot / (col("a.norm") * col("b.norm")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= 0.2)
  }

  private def lshOracleSqlFor(planes: Seq[Seq[Int]], sized: Boolean): String = {
    val bucketExpr = duckBucketExpr(planes, sized)
    val npl = if (sized) nplCte + "\n" else ""
    s"""WITH $npl sig AS (
       |  SELECT vec_id, embedding, $bucketExpr AS bucket FROM embeddings),
       |pairs AS (
       |  SELECT a.vec_id AS vec_id, a.bucket AS bucket, b.vec_id AS neighbor,
       |    round(list_sum(list_transform(range(1,65), j -> CAST(a.embedding[j] AS DOUBLE) * CAST(b.embedding[j] AS DOUBLE))) /
       |      (sqrt(list_sum(list_transform(range(1,65), j -> CAST(a.embedding[j] AS DOUBLE) * CAST(a.embedding[j] AS DOUBLE)))) *
       |       sqrt(list_sum(list_transform(range(1,65), j -> CAST(b.embedding[j] AS DOUBLE) * CAST(b.embedding[j] AS DOUBLE))))), 4) AS cos_sim
       |  FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id != b.vec_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor) AS rn
       |  FROM pairs)
       |SELECT vec_id, bucket, neighbor, cos_sim FROM ranked WHERE rn = 1""".stripMargin
  }

  private val stopwords = Seq("the", "a", "and", "of", "to", "in", "is", "on")

  /** Language-ID heuristic: stopword-hit ratio (n-gram heuristic per the
    * extension spec); narrow scan. */
  def xLangId(s: SparkSession, dir: String): DataFrame = {
    val w = col("w")
    val hits = col("hits")
    T(s, dir, "documents")
      .withColumn("w", words(col("text")))
      .withColumn("hits", size(filter(w, t => t.isInCollection(stopwords))))
      .select(
      col("doc_id"), col("lang"),
      size(w).as("n_tokens"), hits.as("stopword_hits"),
      graft.operators.TextStats.stopwordRatio(col("text"), stopwords).as("stopword_ratio"),
      graft.operators.TextStats.langId(col("text"), "en", 0.05, stopwords).as("predicted"))
  }

  /** The deterministic weight-table rule shared by [[xQualityLearned]]
    * and its oracle: bucket i carries
    * ((i+1)·2654435761 mod 2000003) / 2000003 − 0.5 — a Knuth-hash
    * pseudo-random value in [−0.5, 0.5) both engines derive with exact
    * integer arithmetic, standing in for trained fastText weights (the
    * INFERENCE path is what the operator ships; training produces the
    * same plan-literal shape). */
  private val learnedB = 1024
  private def learnedWeights: Seq[Double] =
    Seq.tabulate(learnedB)(i => (((i + 1) * 2654435761L) % 2000003L) / 2000003.0 - 0.5)

  /** Learned quality-filter inference
    * ([[graft.operators.TextStats.learnedQuality]] /
    * [[graft.functions.HashedNgramScore]]): hashed unigram+bigram linear
    * model, plan-literal 1024-bucket weight table, h32 bucket hash both
    * engines share, sigmoid of (bias + mean weight) rounded 4 dp. One
    * native row-local pass, zero shuffle (plan-pinned). */
  def xQualityLearned(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextStats.learnedQuality(
      T(s, dir, "documents"), "doc_id", "text", learnedWeights, bias = 0.1)

  /** Distributed classifier TRAINING
    * ([[graft.operators.TextStats.trainQualityModel]]): 4 full-batch
    * logistic-regression iterations on B = 256 hashed unigram+bigram
    * buckets, label = the English slice, lr = 0.5 — then the trained
    * (weights, bias) scored through the SAME native scan
    * `x_quality_learned` pins. Deterministic end to end (zero init,
    * full batch, no RNG), so the oracle re-derives the ENTIRE training
    * trajectory — every gradient, every weight update — in unrolled
    * SQL, and the output hash pins all four iterations at once. */
  def xQualityTrained(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val (w, b) = graft.operators.TextStats.trainQualityModel(
      docs, "doc_id", "text", col("lang") === "en",
      buckets = 256, iters = 4, lr = 0.5)
    graft.operators.TextStats.learnedQuality(docs, "doc_id", "text", w.toSeq, b)
  }

  /** Hashing-trick text embeddings
    * ([[graft.operators.TextStats.textEmbedding]]): 64-dim L2-normalised
    * vectors from one native pass, published as a ','-joined 4-dp string
    * (the driver comparator sorts rows with pandas and cannot sort raw
    * array cells — every array-valued oracle row publishes a scalar).
    * `+ 0.0` canonicalises -0.0 before formatting. Token-less docs are
    * filtered on the INPUT side (`rlike` on a raw column — never a
    * filter on the computed embedding, which would re-run the scan). */
  def xTextEmbed(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .filter(col("text").rlike("[^ \n\t\r]"))
      .select(col("doc_id"),
        concat_ws(",",
          transform(graft.operators.TextStats.textEmbedding(col("text"), 64),
            x => format_string("%.4f", round(x, 4) + lit(0.0)))).as("emb_csv"))

  /** DSIR data selection ([[graft.operators.TextStats.dsirSelect]],
    * Xie et al. 2023): target = the English slice, raw = the whole
    * corpus, B = 1024 hashed unigram+bigram buckets (the
    * `x_quality_learned` table size), α = 0.01, top-200 by importance
    * log-weight. The λ table is data-derived — the oracle recomputes
    * both hashed-ngram models from the same corpus CTEs, so the row
    * pins count fitting, smoothing, the h32 bucket convention AND the
    * scoring scan end-to-end. */
  def xDsirSelect(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextStats.dsirSelect(
      T(s, dir, "documents"), "doc_id", "text",
      isTarget = col("lang") === "en", k = 200)

  /** CCNet perplexity tiers ([[graft.operators.TextStats
    * .perplexityBuckets]], Wenzek et al. 2020): per-language
    * equal-population head/middle/tail split on the bigram-LM score. */
  def xPplBuckets(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextStats.perplexityBuckets(
      T(s, dir, "documents"), "doc_id", "text", "lang", nBuckets = 3)

  /** Quality scoring: token/char/punct stats composed into a score. */
  def xQuality(s: SparkSession, dir: String): DataFrame = {
    val nTok = col("n_tok")
    val nPunct = col("n_p")
    val meanLen = (length(col("text")) - nTok + 1).cast("double") / nTok
    T(s, dir, "documents")
      .withColumn("n_tok", graft.operators.TextStats.spaceTokens(col("text")))
      .withColumn("n_p", graft.functions.TextScan.punct(col("text")))
      .select(
      col("doc_id"), nTok.as("n_tokens"), nPunct.as("n_punct"),
      round(meanLen, 4).as("mean_word_len"),
      graft.operators.TextStats.quality(col("text"), fullTokens = 50).as("quality"))
  }

  /** Token counting: whitespace tokens + BPE-ish regex pieces. */
  def xTokenCount(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents").select(
      col("doc_id"),
      graft.operators.TextStats.wsTokens(col("text")).as("ws_tokens"),
      graft.operators.TextStats.bpeIshTokens(col("text")).as("bpe_ish_tokens"))

  /** Document fingerprinting: normalised content hash + order-independent
    * bag-of-words hash. */
  def xFingerprint(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents").select(
      col("doc_id"),
      graft.operators.TextStats.contentFingerprint(col("text")).as("content_fp"),
      graft.operators.TextStats.bagFingerprint(col("text")).as("bag_fp"))

  /** Near-dup clustering: LSH candidate pairs → connected components —
    * every involved doc labelled with its cluster's min id (the canonical
    * representative). The DuckDB twin is a recursive transitive closure. */
  def xDedupCluster(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextDedup.connectedComponents(
        xMinhashPairs(s, dir), "doc_a", "doc_b")
      .select(col("id").as("doc_id"), col("component"))

  /** Quality-aware cluster dedup
    * ([[graft.operators.TextDedup.dedupByClustersBest]]): the minhash-LSH
    * clusters again, but the canonical copy per component is the
    * HIGHEST-QUALITY doc (quality desc, doc_id tie-break) instead of the
    * component root — the keeper policy real dedup pipelines run. The
    * oracle extends the recursive-CC derivation with the same windowed
    * best-of-component selection. */
  def xDedupClusterBest(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"),
      graft.operators.TextStats.quality(col("text"), fullTokens = 50).as("q"))
    graft.operators.TextDedup.dedupByClustersBest(
        docs, "doc_id", xMinhashPairs(s, dir), "doc_a", "doc_b",
        Seq(col("q").desc, col("doc_id")))
      .select(col("doc_id"), col("component"), col("q"), col("is_canonical"))
  }

  /** Deterministic train/eval split — hash-mod partitioning on the document
    * key (the standard reproducible split for training pipelines; no RNG, so
    * re-runs and backfills land every doc in the same split). Narrow. */
  def xTrainSplit(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents").select(
      col("doc_id"),
      graft.operators.TextStats.trainSplit(col("doc_id"), trainPct = 90).as("split"))

  /** Test-set decontamination — every 50th document plays the benchmark
    * set; training docs are scored by how many distinct word 3-grams they
    * share with it. Benchmark grams broadcast; the corpus side is a
    * narrow explode + one count aggregation. */
  def xDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    graft.operators.TextDedup.decontaminate(
        docs.filter(col("doc_id") % 50 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 50 === 0), "text")
      .select(col("doc_id"), col("n_shared"))
  }

  /** Surgical span-level decontamination
    * ([[graft.operators.TextDedup.removeContaminatedSpans]]) on the
    * x_decontaminate split: every verbatim ≥10-token run a training doc
    * shares with the every-50th-doc benchmark set is excised while the
    * doc survives (the corpus's genuine near-duplicates guarantee real
    * cross-split runs). The oracle re-derives flag-by-benchmark-window →
    * coverage → excise relationally. */
  def xContaminatedSpans(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    graft.operators.TextDedup.removeContaminatedSpans(
      docs.filter(col("doc_id") % 50 =!= 0), "doc_id", "text",
      docs.filter(col("doc_id") % 50 === 0), "text", n = 10)
  }

  /** Fraction-based contamination scoring
    * ([[graft.operators.TextDedup.contaminationFraction]]) on the same
    * every-50th-doc benchmark split as x_decontaminate — but every
    * training doc comes back (gramless ones at frac 0.0) with its gram
    * total and the shared FRACTION, the thresholdable quantity. One
    * gram pass + one conditional-count aggregate. */
  def xContaminationFrac(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    graft.operators.TextDedup.contaminationFraction(
      docs.filter(col("doc_id") % 50 =!= 0), "doc_id", "text",
      docs.filter(col("doc_id") % 50 === 0), "text")
  }

  /** Seeded deterministic corpus shuffle
    * ([[graft.operators.TextStats.shuffleShards]]): the reproducible
    * epoch-0 training order — 8 shards, seed "42", every (shard, pos)
    * a pure function of the key so the oracle re-derives the identical
    * permutation from the same md5 arithmetic. One hash exchange + a
    * streaming per-shard rank. */
  def xShuffleShards(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextStats.shuffleShards(
        T(s, dir, "documents"), "doc_id", shards = 8, seed = "42")
      .select(col("doc_id"), col("shard"), col("pos"))

  /** Deterministic stratified sampling — downsample dominant-language docs
    * (en at 30%), keep the tail languages whole. Hash-mod per stratum: no
    * RNG, identical sample on every run/backfill. Narrow filter. */
  def xStratified(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextStats.stratifiedSample(
        T(s, dir, "documents"), "lang", "doc_id",
        Map("en" -> 0.3, "zh" -> 0.8), defaultFraction = 1.0)
      .select(col("doc_id"), col("lang"))

  /** Token-budget sequence packing — docs cut into ~2000-token training
    * sequences per language shard. One partitioned window, no global
    * sort. */
  def xPack(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextStats.packSequences(
        T(s, dir, "documents"), "lang", "doc_id",
        graft.operators.TextStats.spaceTokens(col("text")).cast("long"),
        budget = 2000)
      .select(col("doc_id"), col("seq_id"), col("seq_offset"))

  /** Sharded variant of [[xPack]] — the dominant-group guard: every
    * language is split over 4 deterministic hash-shards of doc_id, so the
    * widest window partition shrinks 4× while per-doc offsets stay exact
    * (per-shard running sums stitched by a tiny per-(lang, shard) total
    * aggregate). */
  def xPackSalted(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextStats.packSequences(
        T(s, dir, "documents"), "lang", "doc_id",
        graft.operators.TextStats.spaceTokens(col("text")).cast("long"),
        budget = 2000, shards = 4)
      .select(col("doc_id"), col("seq_id"), col("seq_offset"))

  /** Incremental batch-vs-history dedup
    * ([[graft.operators.TextDedup.dedupAgainst]]): "last night's crawl"
    * (every 10th doc plus a re-crawl replay of every 7th) against the
    * historical corpus (everything else) — replayed pages carry the same
    * normalised fingerprint and die in the anti join; genuinely new ones
    * survive. One fingerprint-keyed shuffle-hash anti join; the history
    * side ships only its fingerprint column and is never broadcast. */
  def xIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val newBatch = docs.filter(col("doc_id") % 10 === 0 || col("doc_id") % 7 === 0)
    val history = docs.filter(col("doc_id") % 10 =!= 0)
    graft.operators.TextDedup.dedupAgainst(newBatch, "doc_id", "text",
        history, "text")
      .select(col("doc_id"), col("content_fp"))
  }

  /** Vocabulary build + token-id encoding
    * ([[graft.operators.TextStats.buildVocab]] /
    * [[graft.operators.TextStats.encodeTokens]]): dense ids minted
    * deterministically for the top-4096 words (count ≥ 2, ties by word),
    * every document encoded and fingerprinted order-sensitively (OOV =
    * −1) — the tokenizer-reproducibility contract. One word-keyed count
    * shuffle + TakeOrdered for the vocab; a broadcast-hash token lookup
    * and one doc-keyed re-aggregation for the encode. */
  def xVocabEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    graft.operators.TextStats.encodeTokens(docs, "doc_id", "text",
      graft.operators.TextStats.buildVocab(docs, "text", maxSize = 4096, minCount = 2))
  }

  /** Merge count for the BPE oracle pair: small enough that the unrolled
    * DuckDB CTE chain stays readable, large enough to exercise multi-char
    * merges merging into each other (the corpus's 31-word vocabulary
    * supports ~120 merges before exhaustion). */
  private val bpeMergeCount = 16

  /** Subword (BPE) tokenizer training
    * ([[graft.operators.TextStats.bpeTrain]]): the ordered merge table —
    * rank, the pair merged at that rank, its weighted count. The corpus
    * collapses to its distinct-word frequency table once (the only
    * corpus-wide shuffle); each of the 16 ranks is one bounded hash
    * aggregate over that table plus an O(1) TakeOrdered argmax. The
    * DuckDB twin re-derives every rank independently through an unrolled
    * CTE chain — same framing, same (count desc, pair asc) tie-break —
    * so the hash pins the whole training trajectory, not just the final
    * vocabulary. */
  def xBpeTrain(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextStats.bpeMergesDf(s,
      graft.operators.TextStats.bpeTrain(T(s, dir, "documents"), "text", bpeMergeCount))

  /** BPE encoding ([[graft.operators.TextStats.bpeEncode]]) with the
    * model trained by [[xBpeTrain]]'s loop: one row per (doc, word,
    * subword) with its vocabulary id, in (word_idx, sym_idx) order. A
    * sentinel doc of out-of-alphabet words ('zz xx' — the corpus has no
    * z or x) is unioned in to pin the OOV −1 contract. Encode-side plan
    * is shuffle-free: K literal replaces in one projection, in-row
    * posexplode, broadcast vocab join. */
  def xBpeEncode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = T(s, dir, "documents")
    val model = graft.operators.TextStats.bpeTrain(docs, "text", bpeMergeCount)
    val withOov = docs.select(col("doc_id"), col("text"))
      .unionAll(Seq((-1L, "zz xx")).toDF("doc_id", "text"))
    graft.operators.TextStats.bpeEncode(withOov, "doc_id", "text", model)
  }

  /** Unigram-LM (SentencePiece) tokenizer training
    * ([[graft.operators.TextStats.unigramLmTrain]], Kudo 2018) — the
    * other mainstream subword algorithm next to BPE: the trained piece
    * table (piece, ln p to 4 dp) after the fixed deterministic schedule
    * (integer-exact substring seeding → EM×2 → prune to 24 multi-char
    * pieces → EM×2). The DuckDB twin re-derives the WHOLE trajectory —
    * forward–backward unrolled over the corpus's ≤8-char words as
    * chained CTEs, identical term order, the same rounded-key prune —
    * so the hash pins every EM iteration, not just the final table. */
  def xUnigramTrain(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextStats.unigramPiecesDf(s,
      graft.operators.TextStats.unigramLmTrain(T(s, dir, "documents"), "text"))

  /** Unigram-LM Viterbi encoding
    * ([[graft.operators.TextStats.unigramLmEncode]]) with the model
    * trained by [[xUnigramTrain]]'s schedule: one row per (doc, word,
    * piece) with the piece and its sort-rank id, plus the 'zz xx' OOV
    * sentinel ([[xBpeEncode]]'s convention — z/x are outside the corpus
    * alphabet, pinning the −1 contract). The oracle replays the decode
    * with the same cumulative 6-dp rounding and longest-piece
    * tie-break, unrolled per node. Spark-side plan is shuffle-free: one
    * native Viterbi call per word row, in-row posexplode, plan-literal
    * id map probed by `element_at`. */
  def xUnigramEncode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = T(s, dir, "documents")
    val model = graft.operators.TextStats.unigramLmTrain(docs, "text")
    val withOov = docs.select(col("doc_id"), col("text"))
      .unionAll(Seq((-1L, "zz xx")).toDF("doc_id", "text"))
    graft.operators.TextStats.unigramLmEncode(withOov, "doc_id", "text", model)
  }

  /** The canonical training-data pipeline COMPOSED as one job
    * ([[graft.operators.TextPipeline.e2e]]): gopher-repetition gate +
    * lexicon gate → exact dedup → 10-gram decontamination against the
    * every-50th-doc benchmark split → per-language calibrated-quality
    * gate (drop the bottom decile) → temperature mixing (alpha 0.5) →
    * 2000-token packing → 8-shard seeded shuffle. Every stage has its
    * own oracle row; THIS row pins the composition — the oracle
    * re-derives all seven stages in one WITH chain, so membership,
    * sequence layout AND shard order must survive the full chain
    * bit-for-bit. PlanQualitySpec pins the composed plan's corpus-scan
    * and exchange counts (the duplicated-subtree trap is a
    * composition-time bug no single-operator row can catch). */
  def xPipelineE2e(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    graft.operators.TextPipeline.e2e(
      docs.filter(col("doc_id") % 50 =!= 0), "doc_id", "text", "lang",
      docs.filter(col("doc_id") % 50 === 0), "text",
      lexicon = Seq("zebra", "slow"))
  }

  /** The pipeline ending where a PRODUCTION pipeline ends
    * ([[graft.operators.TextPipeline.e2eTokenized]]): stages 1–5 as
    * [[xPipelineE2e]], then every survivor BPE-ENCODED with the
    * [[xBpeTrain]] model (trained on the full corpus — the tokenizer is
    * an upstream artifact) and packed on the REAL token counts. The
    * oracle re-derives training chain, vocabulary, per-survivor encode,
    * id-sequence fingerprint, packing and sharding in one WITH chain —
    * membership AND every doc's full token-id sequence must survive
    * bit-for-bit. */
  def xPipelineTok(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val model = graft.operators.TextStats.bpeTrain(docs, "text", bpeMergeCount)
    graft.operators.TextPipeline.e2eTokenized(
      docs.filter(col("doc_id") % 50 =!= 0), "doc_id", "text", "lang",
      docs.filter(col("doc_id") % 50 === 0), "text",
      lexicon = Seq("zebra", "slow"), model = model)
  }

  /** The pipeline with the stage real training runs between exact dedup
    * and decontamination: a SIMHASH-CLUSTER best-quality keeper
    * ([[graft.operators.TextPipeline.e2e]] with `nearDedup = true`) —
    * sized-width signature built in ONE row-local pass over the cached
    * corpus, banded-hamming candidate pairs, connected components, and
    * a keeper window over the member set only. The oracle replays the
    * keeper with `x_simhash_pairs_sized`'s sizing/signature idiom,
    * `x_dedup_cluster`'s recursive labelling and
    * `x_dedup_cluster_best`'s quality rank, so MEMBERSHIP of the final
    * packed shards pins the whole composition. */
  def xPipelineNear(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    graft.operators.TextPipeline.e2e(
      docs.filter(col("doc_id") % 50 =!= 0), "doc_id", "text", "lang",
      docs.filter(col("doc_id") % 50 === 0), "text",
      lexicon = Seq("zebra", "slow"), nearDedup = true)
  }

  /** Near-duplicate drop-at-ingest, batch shape
    * ([[graft.operators.TextDedup.nearDropAtIngest]] probing a
    * [[graft.operators.TextDedup.simhashIndexBuckets]] index built over
    * the same corpus — StreamsSpec pins the STREAM run bit-equal to
    * exactly this frame, so this row is the streaming gate's oracle):
    * per ingested doc, its sized-width signature and the best-quality
    * indexed witness within hamming 3 that beats it on the keeper order
    * (quality desc, id asc), self-ids excluded. The index is
    * checkpointed ONCE (its real deployment shape: built per refresh,
    * probed per micro-batch) so the four band probes reuse one
    * materialisation instead of re-planning the groupBy per band. */
  def xNearIngest(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val bits = 4 * graft.operators.TextDedup.simhashWidthFor(docs.count())
    val index = graft.operators.TextDedup
      .simhashIndexBuckets(docs, "doc_id", "text", bits, wideHash = true)
      .localCheckpoint()
    graft.operators.TextDedup
      .nearDropAtIngest(docs, "doc_id", "text", index, bits, wideHash = true)
  }

  /** Incremental index refresh, proved THROUGH the gate
    * ([[graft.operators.TextDedup.simhashIndexMerge]]): the index is
    * built over 90% of the corpus, the remaining 10% arrives as a
    * refresh batch and is MERGED in (batch signed, corpus never
    * re-read), then every doc probes the merged index. Because
    * merge ≡ rebuild up to member packing order — immaterial to the
    * gate's by-value witness selection — the output is bit-identical
    * to [[xNearIngest]], and the oracle SQL is the SAME full-corpus
    * replay: a wrong merge (lost bucket, dropped member, mis-keyed
    * band) diverges loudly. Width is sized on the FULL corpus count —
    * the deployment rule: size for what the index will hold, rebuild
    * only when the corpus outgrows the width step. */
  def xNearIngestIncr(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val bits = 4 * graft.operators.TextDedup.simhashWidthFor(docs.count())
    val indexed = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val base = graft.operators.TextDedup
      .simhashIndexBuckets(indexed, "doc_id", "text", bits, wideHash = true)
      .localCheckpoint()
    val merged = graft.operators.TextDedup
      .simhashIndexMerge(base, batch, "doc_id", "text", bits, wideHash = true)
      .localCheckpoint()
    graft.operators.TextDedup
      .nearDropAtIngest(docs, "doc_id", "text", merged, bits, wideHash = true)
  }

  /** The full index-refresh LIFECYCLE, proved through the gate
    * ([[graft.operators.TextDedup.refreshSimhashIndex]]): refresh #1
    * first-builds the index over 90% of the corpus (sized on what it
    * holds), refresh #2 folds the remaining 10% in — the helper owns
    * the build-or-merge decision (width re-sized on the post-refresh
    * count), the replay anti-join, the checkpoint, and releasing the
    * predecessor. The probe width is read back from the final index's
    * STAMP (never re-derived — the stamp is the contract). Output is
    * bit-identical to [[xNearIngest]] because the lifecycle converges
    * to the same width law the oracle replicates in SQL, whichever
    * path (merge or width-step rebuild) it took at this scale — so the
    * oracle is the SAME full-corpus replay, and a lifecycle bug (lost
    * member, wrong width decision, broken replay guard) diverges
    * loudly. */
  def xNearIngestLifecycle(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val indexed = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val idx1 = graft.operators.TextDedup.refreshSimhashIndex(
      None, indexed, "doc_id", "text", fullCorpus = docs, wideHash = true)
    val idx2 = graft.operators.TextDedup.refreshSimhashIndex(
      Some(idx1), batch, "doc_id", "text", fullCorpus = docs,
      wideHash = true)
    val bits = idx2.select(col("built_bits")).head().getInt(0)
    graft.operators.TextDedup
      .nearDropAtIngest(docs, "doc_id", "text", idx2, bits, wideHash = true)
  }

  /** The SEMANTIC gate's refresh lifecycle, proved through the gate
    * ([[graft.operators.Ann.refreshSemIndex]]) — [[xNearIngestLifecycle]]
    * on the embedding track: refresh #1 first-builds the packed index
    * over 90% of the corpus (planes sized by `planesFor` on what it
    * holds), refresh #2 folds the remaining 10% in — merge when the
    * corpus did not cross a plane step between the two sizings, rebuild
    * when it did; BOTH paths converge to `planesFor(N)` planes over all
    * N vectors, which is exactly what the oracle's `npl` CTE derives
    * from `count(*)`, so the SQL is lifecycle-path-independent. The
    * probe planes are regenerated from the final index's STAMP
    * (`built_planes` — `hyperplanes` is deterministic and
    * prefix-stable, so the regenerated matrix fingerprints identically;
    * the stamp is the contract, never a count the caller must keep in
    * sync). Probing ALL vectors through
    * [[graft.operators.Ann.semDropAtIngest]] makes this the full
    * self-gate: a vector drops iff some OTHER indexed vector in its
    * (cell, bucket) reaches cos ≥ τ — a lost member, a wrong plane
    * decision, or a broken replay guard diverges loudly. Centroids are
    * the x_semdedup convention (first-⌈√N⌉-ids quantizer, the caller's
    * "model"), τ = 0.2 likewise. */
  def xSemIngestLifecycle(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val centroids = ivfCentroids(emb)
    val indexed = emb.filter(col("vec_id") % 10 =!= 0)
    val batch = emb.filter(col("vec_id") % 10 === 0)
    val idx1 = graft.operators.Ann.refreshSemIndex(
      None, indexed, "vec_id", "embedding", fullCorpus = emb,
      centroids = centroids)
    val idx2 = graft.operators.Ann.refreshSemIndex(
      Some(idx1), batch, "vec_id", "embedding", fullCorpus = emb,
      centroids = centroids)
    val nPlanes = idx2.select(col("built_planes")).head().getInt(0)
    graft.operators.Ann.semDropAtIngest(emb, "vec_id", "embedding",
      idx2, centroids, graft.operators.Ann.hyperplanes(nPlanes, 64),
      tau = 0.2)
  }

  /** Sliding token-window chunking
    * ([[graft.operators.TextStats.chunkTokens]]): every document cut into
    * 64-token windows stepping by 48 (overlap 16) — the RAG-index /
    * fixed-context preparation step. Narrow end to end: the chunk
    * ordinals fan out IN-ROW (`posexplode(sequence(…))`), windows are
    * native `slice` + `array_join`, no HOF, no shuffle at all. */
  def xChunkOverlap(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextStats.chunkTokens(
        T(s, dir, "documents"), "text", size = 64, overlap = 16)
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        col("n_tok"), col("chunk"))

  /** Topic bucketing for data mixing ([[graft.operators.Ann.assignCells]]):
    * every embedding lands in one of 16 deterministic clusters (first-16-
    * by-id k-means seeding, the house convention), then one tiny aggregate
    * reports each topic's size, corpus share and mean label — the table a
    * mixing pipeline feeds into [[graft.operators.TextStats.temperatureRates]].
    * The assignment is the same narrow native argmin scan the IVF family
    * builds on (no join, no wide shuffle); everything downstream operates
    * on the 16-row aggregate. */
  def xClusterTopics(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val agg = graft.operators.Ann.assignCells(emb, "embedding",
        ivfCentroids(emb, Some(16)), out = "topic")
      .groupBy("topic")
      .agg(count(lit(1)).as("n"), round(avg(col("label")), 4).as("mean_label"))
    agg.crossJoin(broadcast(agg.agg(sum(col("n")).as("_tot"))))
      .select(col("topic"), col("n"),
        round(col("n") / col("_tot"), 4).as("pct"), col("mean_label"))
  }

  /** Corpus-relative quality gate
    * ([[graft.operators.TextStats.qualityFilter]]): keep documents whose
    * quality score clears the corpus mean, then report the surviving mix
    * per language. The threshold is one O(1) aggregate broadcast back —
    * never a percentile (Spark's exact percentile buffers every value;
    * see the operator scaladoc) — and the gate itself is a narrow
    * filter. */
  def xQualityFilter(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
      .withColumn("q", graft.operators.TextStats.quality(col("text"), fullTokens = 50))
    graft.operators.TextStats.qualityFilter(docs, col("q"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), round(avg(col("q")), 4).as("mean_q"),
        max(col("q_threshold")).as("q_threshold"))
  }

  /** Per-source document cap ([[graft.operators.TextStats.capPerGroup]]):
    * at most 10 documents per source, best quality first (ties → lower
    * doc_id) — the anti-flooding guard every crawl pipeline runs. The
    * rank-filter pair compiles to `WindowGroupLimit` (PlanQualitySpec
    * pins it): map-side per-group top-10 heaps BEFORE the exchange, so
    * the shuffle carries O(sources · 10) rows however large the corpus —
    * this is the 100 TB shape, not an optimisation detail. */
  def xSourceCap(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
      .withColumn("q", graft.operators.TextStats.quality(col("text"), fullTokens = 50))
    graft.operators.TextStats.capPerGroup(docs, "source",
        Seq(col("q").desc, col("doc_id")), cap = 10)
      .select(col("doc_id"), col("source"), col("rk"))
  }

  /** Greedy token-budget selection
    * ([[graft.operators.TextStats.tokenBudgetSelect]]): per language, the
    * best-quality documents until 30% of that language's token mass is
    * spent — the selection step between scoring and packing in a
    * training-data mix. Self-scaling (the budget is a fraction of the
    * observed total), so the query binds at every SF; one exchange (the
    * group total rides the running sum's window partition). */
  def xTokenBudget(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
      .withColumn("q", graft.operators.TextStats.quality(col("text"), fullTokens = 50))
    graft.operators.TextStats.tokenBudgetSelect(docs, "lang",
        graft.operators.TextStats.spaceTokens(col("text")),
        Seq(col("q").desc, col("doc_id")), fraction = 0.3)
      .select(col("doc_id"), col("lang"), col("cum_tokens"))
  }

  /** Cheap LM-quality signal: mean unigram log-prob of each doc's words
    * under the corpus's own smoothed unigram distribution. Vocab joins by
    * shuffle-hash (never broadcast — corpus-sized at 100 TB). */
  def xUnigramLogprob(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextStats.unigramLogProb(T(s, dir, "documents"), "doc_id", "text")

  /** Bigram upgrade of [[xUnigramLogprob]]: mean add-one-smoothed
    * conditional log-prob of each doc's word bigrams under the corpus's
    * own bigram counts — the order-sensitive KenLM-shaped quality signal.
    * Pairing happens inside the row (no self-join, no per-doc window);
    * both count joins are shuffle-hash on co-partitioned keys. */
  def xBigramLogprob(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextStats.bigramLogProb(T(s, dir, "documents"), "doc_id", "text")

  /** Hashed-bucket bigram LM
    * ([[graft.operators.TextStats.bigramLogProbHashed]], Talbot &
    * Osborne 2007's Bloom-LM idea on the house h32): counts keyed by
    * h32(bigram) mod 2²¹ instead of the pair itself, so the model table
    * is O(min(B, types)) and BROADCASTS — nothing corpus-sized is ever
    * exchanged. Both engines hash identically, so collisions are
    * deterministic and the row pins the whole bucket convention. NOT
    * adopted for `x_ppl_buckets` (A/B'd, SCALING.md): at B=2M the 2.3%
    * type-collision rate touches 58% of docs and scrambles the
    * tie-dense ntile tiers to 47.8% agreement, and locally the second
    * corpus scan costs more than the exchange it saves — the hashed
    * shape is the one to reach for when the (w1,w2) exchange IS the
    * bottleneck. */
  def xBigramLogprobHashed(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextStats.bigramLogProbHashed(
      T(s, dir, "documents"), "doc_id", "text", 1 << 21)

  /** Inverted-index statistics over the corpus: per-term document
    * frequency, collection frequency, BM25 idf and a bounded posting-list
    * sample. The sample is row_number-bounded BEFORE aggregation so no
    * buffer ever holds a stopword's full posting list (see
    * [[graft.operators.Retrieval.termStats]]'s scale contract). */
  def xInvertedIndex(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retrieval.termStats(T(s, dir, "documents"), "doc_id", "text")

  /** The lexical query set shared by `x_bm25` and `x_rrf_hybrid`: the
    * first 8 documents, each querying with its own first 8 whitespace
    * tokens — deterministic, and id-aligned with `x_ann_cosine`'s dense
    * query set (vec_id < 8) so the two rankings fuse per query. */
  private def bm25Queries(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents").filter(col("doc_id") < 8)
      .select(col("doc_id"),
        array_join(slice(split(col("text"), " "), 1, 8), " ").as("q_text"))

  /** BM25 top-5 lexical search (k1=1.2, b=0.75, Lucene idf). The corpus
    * is tokenised in one narrow pass and semi-joined down to the
    * broadcast query-term set before ANY aggregation — every shuffle
    * downstream is proportional to the matched postings, not the corpus
    * (the 100 TB contract; see [[graft.operators.Retrieval.bm25TopK]]). */
  def xBm25(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retrieval.bm25TopK(
      T(s, dir, "documents"), bm25Queries(s, dir),
      "doc_id", "text", "doc_id", "q_text", k = 5)

  /** TF-IDF keyword extraction: top-3 terms per document by
    * tf·ln(N/(1+df)). One corpus scan over the native TermCounts frame;
    * df by window, never a vocab groupBy joined back (see
    * [[graft.operators.Retrieval.tfidfTopK]]). */
  def xTfidfKeywords(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retrieval.tfidfTopK(T(s, dir, "documents"), "doc_id", "text", k = 3)

  /** Deterministic weighted sampling without replacement (A-ES with the
    * house md5-prefix uniform): the 50 documents drawn with probability
    * proportional to length — the quality-weighted subset selection a
    * curation pipeline runs, reproducible across runs and backfills.
    * TakeOrdered top-k: O(k) driver state, no global sort shuffle. */
  def xWeightedSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextStats.weightedSample(
        T(s, dir, "documents"), "doc_id", col("n_chars"), k = 50)
      .select(col("doc_id"), col("n_chars"), col("sample_key"))

  /** Hybrid retrieval: reciprocal-rank fusion (k=60) of the BM25 top-20
    * with the dense cosine top-20 over the SAME eight queries (doc_id ≡
    * vec_id in the testdata). Both rankers exclude the query's own id,
    * so they fuse over one candidate universe; the fusion join touches
    * only the two 20·8-row rankings — trivially small at any corpus
    * scale. */
  def xRrfHybrid(s: SparkSession, dir: String): DataFrame = {
    val lex = graft.operators.Retrieval.bm25TopK(
        T(s, dir, "documents"), bm25Queries(s, dir),
        "doc_id", "text", "doc_id", "q_text", k = 20)
      .select(col("q_id"), col("doc_id"), col("rank"))
    val emb = T(s, dir, "embeddings")
    val dense = graft.operators.Ann.cosineTopK(
        emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding", k = 20)
      .select(col("q_id"), col("neighbor").as("doc_id"), col("rank"))
    graft.operators.Retrieval.rrfFuse(lex, dense, "q_id", "doc_id", "rank", k = 5)
      .select(col("q_id"), col("rank"), col("doc").as("doc_id"), col("rrf"))
  }

  /** Paragraph-level boilerplate removal (the CCNet/RefinedWeb shape) over
    * a paragraph-structured rendering of the corpus: each document gains a
    * per-source boilerplate header paragraph plus its own text re-chunked
    * into 10-word paragraphs (a deterministic, narrow per-row construction
    * — the `\n` structure the flat testdata lacks, built the same way
    * n3_segments renders order blocks). [[graft.operators.TextDedup.paragraphDedup]]
    * then counts each paragraph's corpus-wide document frequency and
    * strips those present in more than 8 distinct documents: the
    * 25-docs-per-source headers vanish from every document, the unique
    * content chunks survive in order, and per-doc drop counts come back
    * for auditability. */
  def xParagraphDedup(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "documents")
      .withColumn("_ws", split(col("text"), " "))
      .withColumn("_chunks", transform(
        sequence(lit(0), (ceil(size(col("_ws")) / 10.0) - 1).cast("int")),
        i => array_join(slice(col("_ws"), i * 10 + 1, lit(10)), " ")))
      .select(col("doc_id"),
        concat_ws("\n",
          concat(lit("SRC "), col("source"), lit(" standard boilerplate notice")),
          array_join(col("_chunks"), "\n")).as("ptext"))
    graft.operators.TextDedup.paragraphDedup(base, "doc_id", "ptext", maxDocs = 8)
  }

  /** Exact-substring duplicated-span detection
    * ([[graft.operators.TextDedup.sharedNgramSpans]]) over a corpus with
    * injected verbatim reuse: every document gains a 20-token per-source
    * header (the same narrow construction trick as x_paragraph_dedup),
    * then EVERY 10-token window (stride 1 — the any-alignment
    * guarantee) is hashed corpus-wide. The eleven fully-header-contained
    * windows per document (starts 1..11) are flagged as shared across
    * each source's documents; every header/content straddle and every
    * content window stays unique. Catches verbatim reuse at any
    * alignment, which paragraph-level dedup structurally cannot. */
  def xSubstringSpans(s: SparkSession, dir: String): DataFrame = {
    val hdr = array_join(transform(sequence(lit(1), lit(20)),
      i => concat(lit("hdr"), i.cast("string"), lit("_"), col("source"))), " ")
    val base = T(s, dir, "documents")
      .select(col("doc_id"), concat(hdr, lit(" "), col("text")).as("ptext"))
    graft.operators.TextDedup.sharedNgramSpans(base, "doc_id", "ptext",
        n = 10, stride = 1)
      .select(col("doc_id"), col("start").cast("long").as("start"),
        col("gram_h"), col("n_docs"))
  }

  /** Exact-substring REMOVAL ([[graft.operators.TextDedup.removeSharedSpans]])
    * over the same injected-header corpus as x_substring_spans: the
    * shared 20-token per-source header is excised from every document
    * (its eleven flagged windows merge into exactly the [1,20]
    * interval, so `n_removed` ≥ 20 everywhere) — and, because the
    * documents table carries genuine near-duplicate docs, shared
    * CONTENT runs are excised too (at sf0.001: 24 docs lose their whole
    * body, mean `n_removed` 26). The oracle never assumes either
    * outcome: it re-derives flag → coverage → excise relationally
    * (token explode + range join + ordered re-agg), the rendering the
    * operator's scaladoc rejects for Spark because it shuffles every
    * corpus token twice. */
  def xRemoveSpans(s: SparkSession, dir: String): DataFrame = {
    val hdr = array_join(transform(sequence(lit(1), lit(20)),
      i => concat(lit("hdr"), i.cast("string"), lit("_"), col("source"))), " ")
    val base = T(s, dir, "documents")
      .select(col("doc_id"), concat(hdr, lit(" "), col("text")).as("ptext"))
    graft.operators.TextDedup.removeSharedSpans(base, "doc_id", "ptext",
      n = 10, stride = 1)
  }

  /** Gopher/RefinedWeb repetition-rule signals
    * ([[graft.operators.TextStats.gopherStats]]) over a line-structured
    * rendering of the documents table: the x_paragraph_dedup chunk
    * construction bracketed by a duplicated SRC banner (so every doc has
    * a guaranteed duplicate line) with an ellipsis appended to every
    * fifth chunk (so the ellipsis fraction is exercised, not constant
    * zero). The native one-pass scan's four fractions are re-derived
    * relationally by the oracle (line explode + group-by, gram explode +
    * windowed top-1 with the same count-desc/gram-asc tie-break). */
  def xGopherQuality(s: SparkSession, dir: String): DataFrame = {
    val banner = concat(lit("SRC "), col("source"), lit(" standard boilerplate notice"))
    val base = T(s, dir, "documents")
      .withColumn("_ws", split(col("text"), " "))
      .withColumn("_chunks", transform(
        sequence(lit(0), (ceil(size(col("_ws")) / 10.0) - 1).cast("int")),
        i => array_join(slice(col("_ws"), i * 10 + 1, lit(10)), " ")))
      .withColumn("_lines", transform(col("_chunks"),
        (c, i) => when(i % 5 === 0, concat(c, lit("..."))).otherwise(c)))
      .select(col("doc_id"),
        concat_ws("\n", banner, array_join(col("_lines"), "\n"), banner)
          .as("ptext"))
    graft.operators.TextStats.gopherStats(base, "doc_id", "ptext")
  }

  /** Blocklist hit scoring ([[graft.operators.TextStats.lexiconHits]])
    * with a four-term lexicon: three corpus words (one deliberately
    * upper-cased in the term list to exercise the case-insensitive
    * contract) and one absent term. The oracle re-derives the counts
    * relationally (token explode + IN-list conditional counts) and
    * joins every doc back in so empty docs would score 0.0, not
    * vanish. */
  def xLexiconHits(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextStats.lexiconHits(T(s, dir, "documents"),
      "doc_id", "text", Seq("SLOW", "batch", "merge", "zebra"))

  /** Temperature resampling rates per language (alpha = 0.5): the
    * multilingual-pretraining mix flattener, downsample-only, composable
    * with stratifiedSample. */
  def xTemperatureMix(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextStats.temperatureRates(T(s, dir, "documents"), "lang", 0.5)

  /** Temperature mixing APPLIED
    * ([[graft.operators.TextStats.applyTemperature]]): the rate table
    * drives the deterministic hash-mod filter and the RESAMPLED CORPUS
    * comes back — the oracle re-derives the whole composition (rates in
    * SQL window algebra, then the same md5 basis-point comparison), so
    * the pinned artifact is membership, not rates. */
  def xTemperatureApply(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextStats.applyTemperature(
        T(s, dir, "documents"), "lang", "doc_id", 0.5)
      .select(col("doc_id"), col("lang"))

  /** Per-language quality calibration
    * ([[graft.operators.TextStats.calibrateByStratum]]): the x_quality
    * score percent-ranked within each language (doc_id tie-break), the
    * step that makes one global threshold fair across orthographies.
    * Rank arithmetic is identical in both engines once the score is
    * pre-rounded. */
  def xQualityCalibrated(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextStats.calibrateByStratum(
      T(s, dir, "documents").select(col("doc_id"), col("lang"),
        graft.operators.TextStats.quality(col("text"), fullTokens = 50)
          .as("quality")),
      "lang", col("quality"), "doc_id")

  /** Corpus profiling — per-language counts, mean and exact p50/p95 doc
    * length. One partial-aggregating shuffle. */
  def xProfile(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextStats.profile(T(s, dir, "documents"), "lang", "n_chars")

  /** PII redaction — scrub emails and phone-shaped tokens before training.
    * PII is injected deterministically from the key so the scrub is
    * observable on synthetic text; patterns stay in the RE2/Java-regex
    * common subset so the oracle is the same expression. Narrow scan. */
  def xRedact(s: SparkSession, dir: String): DataFrame = {
    val dirty = concat(col("text"), lit(" contact user"), col("doc_id"),
      lit("@example.com or 0161 496 "), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    T(s, dir, "documents").select(
      col("doc_id"),
      md5(graft.operators.TextStats.redact(dirty, Seq(
        "[A-Za-z0-9._]+@[A-Za-z0-9.]+" -> "<EMAIL>",
        "0161 496 [0-9]{4}" -> "<PHONE>"))).as("clean_hash"))
  }

  /** Word-repetition ratio (Gopher-style quality rule): fraction of
    * duplicated words per document. Pure expressions, narrow. */
  def xRepRatio(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents").select(
      col("doc_id"),
      graft.operators.TextStats.repetitionRatio(col("text")).as("rep_ratio"))

  private val minhashPairsSql: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(string_split(text, ' ')) >= 3 THEN
      |      list_transform(range(1, len(string_split(text, ' ')) - 1),
      |        i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])
      |    ELSE [] END AS sh
      |  FROM documents),
      |hashed AS (
      |  SELECT doc_id,
      |    list_transform(sh, x -> ('0x'||substr(md5(x),1,8))::BIGINT) AS hs
      |  FROM sh),
      |sig AS (
      |  SELECT doc_id,
      |    list_min(list_transform(hs, h -> (h * 3 + 12345) % 4294967311)) AS mh0,
      |    list_min(list_transform(hs, h -> (h * 5 + 1012348) % 4294967311)) AS mh1,
      |    list_min(list_transform(hs, h -> (h * 7 + 2012351) % 4294967311)) AS mh2,
      |    list_min(list_transform(hs, h -> (h * 9 + 3012354) % 4294967311)) AS mh3
      |  FROM hashed),
      |bands AS (
      |  SELECT doc_id, concat_ws(':', 'b0', mh0, mh1) AS bucket FROM sig
      |  WHERE mh0 IS NOT NULL
      |  UNION ALL
      |  SELECT doc_id, concat_ws(':', 'b1', mh2, mh3) AS bucket FROM sig
      |  WHERE mh0 IS NOT NULL)
      |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |FROM bands a JOIN bands b ON a.bucket = b.bucket AND a.doc_id < b.doc_id""".stripMargin

  /** BM25 oracle (k1=1.2, b=0.75, Lucene idf), parameterised on k so
    * `x_bm25` (k=5) and `x_rrf_hybrid`'s lexical leg (k=20) share one
    * SQL rendering. Mirrors [[graft.operators.Retrieval.bm25TopK]]:
    * same tokenisation (space split, "" dropped), same query-term
    * pre-filter before df counting (exact, because the filter is
    * per-term), same round-then-rank determinism contract. */
  private def bm25OracleSqlFor(k: Int): String =
    s"""WITH qterms AS (
       |  SELECT doc_id AS q_id, unnest(list_distinct(string_split(text, ' ')[1:8])) AS term
       |  FROM documents WHERE doc_id < 8),
       |dl AS (
       |  SELECT doc_id, len(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS dl
       |  FROM documents),
       |bstats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
       |btoks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |btf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM btoks
       |  WHERE len(term) > 0 AND term IN (SELECT term FROM qterms WHERE len(term) > 0)
       |  GROUP BY 1, 2),
       |bdf AS (SELECT term, count(*) AS df FROM btf GROUP BY 1),
       |bscored AS (
       |  SELECT q.q_id, t.doc_id,
       |    round(sum(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1) *
       |        t.tf / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl))), 4) AS score
       |  FROM qterms q
       |  JOIN btf t ON t.term = q.term
       |  JOIN bdf d ON d.term = t.term
       |  JOIN dl l ON l.doc_id = t.doc_id
       |  CROSS JOIN bstats s
       |  WHERE t.doc_id != q.q_id
       |  GROUP BY 1, 2),
       |branked AS (
       |  SELECT q_id, doc_id, score,
       |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
       |  FROM bscored)
       |SELECT q_id, rank, doc_id, score FROM branked WHERE rank <= $k""".stripMargin

  /** The ␂sym␃ character-framing projection shared by both BPE oracles —
    * byte-for-byte the twin of `TextStats.charsToRepr` (RE2's `\1`
    * rewrite == Java's `$1`; both engines' `.` excludes only line
    * terminators, and the corpus is printable ASCII). */
  private def duckBpeFrame(col: String): String =
    raw"""regexp_replace($col, '(.)', chr(2) || '\1' || chr(3), 'g')"""

  /** One framed symbol list back out of a repr — twin of
    * `TextStats.reprToSyms`. */
  private def duckBpeSyms(col: String): String =
    s"""regexp_extract_all($col, chr(2) || '([^' || chr(3) || ']*)' || chr(3), 1)"""

  /** The unrolled BPE training chain (`TextStats.bpeTrain`'s loop as
    * CTEs): `wf` distinct-word frequencies, `w0` framed reprs, then per
    * rank i — `p\$i` freq-weighted adjacent-pair counts, `b\$i` the
    * (count desc, left, right) argmax, `w\$i` the reprs after applying
    * that merge as one literal replace. MATERIALIZED pins linear (not
    * exponential) CTE expansion: w\$i references b\$i twice and w\$(i-1)
    * once, so inlining would blow up 3^n. The COALESCE guard turns an
    * exhausted rank into a no-op replace (`chr(2)||chr(2)` cannot occur
    * in a well-formed framing). */
  /** Unigram-LM oracle constants: the corpus's words are ≤ `ugW` chars
    * (31 base words of ≤8 chars at the testdata scales; the ScaleGen
    * scratch corpora add suffixed variants up to 11 — 12 gives headroom),
    * pieces ≤ `ugL` chars — the lattice unrolls over exactly these
    * bounds. Budgets mirror
    * [[graft.operators.TextStats.unigramLmTrain]]'s defaults. */
  private val ugW = 12
  private val ugL = 4
  private val ugSeedMulti = 48
  private val ugVocabMulti = 24

  /** `COALESCE(p(substr), 0)` — the lattice's piece-probability lookup. */
  private def ugPp(tbl: String, i: Int, l: Int): String =
    s"COALESCE((SELECT p FROM $tbl WHERE piece = substr(word, $i, $l)), 0.0)"

  /** One EM iteration as chained CTEs: forward f0..f8 (term order l
    * ascending — the kernel's accumulation order), backward b8..b0, the
    * per-word normaliser z, expected counts over the (i, l) edge grid
    * with each term evaluated `freq · f_i · p · b_j / z` left to right,
    * and the renormalised output table `outTbl`. */
  private def duckUnigramEm(pfx: String, inTbl: String, outTbl: String): String = {
    val sb = new StringBuilder
    sb ++= s""",
       |${pfx}f0 AS (SELECT word, wl, CAST(freq AS DOUBLE) AS freqd, 1.0 AS f0 FROM wf)""".stripMargin
    for (j <- 1 to ugW) {
      val terms = (1 to math.min(ugL, j))
        .map(l => s"f${j - l} * ${ugPp(inTbl, j - l + 1, l)}").mkString(" + ")
      sb ++= s""",
       |${pfx}f$j AS (SELECT *, CASE WHEN wl >= $j THEN ($terms) ELSE 0.0 END AS f$j FROM ${pfx}f${j - 1})""".stripMargin
    }
    sb ++= s""",
       |${pfx}b$ugW AS (SELECT *, CASE WHEN wl = $ugW THEN 1.0 ELSE 0.0 END AS b$ugW FROM ${pfx}f$ugW)""".stripMargin
    for (i <- (ugW - 1) to 0 by -1) {
      val terms = (1 to math.min(ugL, ugW - i))
        .map(l => s"${ugPp(inTbl, i + 1, l)} * b${i + l}").mkString(" + ")
      sb ++= s""",
       |${pfx}b$i AS (SELECT *, CASE WHEN wl = $i THEN 1.0 WHEN wl < $i THEN 0.0 ELSE ($terms) END AS b$i FROM ${pfx}b${i + 1})""".stripMargin
    }
    val zSel = (1 to ugW).map(j => s"WHEN $j THEN f$j").mkString(" ")
    val fSel = (1 to ugW).map(i => s"WHEN $i THEN f${i - 1}").mkString(" ")
    val bSel = (1 to ugW).map(j => s"WHEN $j THEN b$j").mkString(" ")
    sb ++= s""",
       |${pfx}z AS (SELECT *, CASE wl $zSel END AS z FROM ${pfx}b0),
       |${pfx}e AS (
       |  SELECT pr.piece,
       |    sum(lat.freqd * (CASE i $fSel END) * pr.p * (CASE i + l - 1 $bSel END) / lat.z) AS c
       |  FROM ${pfx}z lat, unnest(generate_series(1, $ugW)) AS ti(i),
       |    unnest(generate_series(1, $ugL)) AS tl(l), $inTbl pr
       |  WHERE i + l - 1 <= lat.wl AND pr.piece = substr(lat.word, i, l)
       |  GROUP BY 1),
       |$outTbl AS MATERIALIZED (
       |  SELECT piece, c / (SELECT sum(c) FROM ${pfx}e) AS p FROM ${pfx}e)""".stripMargin
    sb.result()
  }

  /** The full training trajectory — integer-exact seed → EM×2 → rounded-key
    * prune → renormalise → EM×2 — ending at table `q2`. Shared by the
    * train and encode oracles. */
  private def duckUnigramTrainCtes: String =
    s"""WITH wf AS MATERIALIZED (
       |  SELECT w AS word, count(*) AS freq, length(w) AS wl
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w != '' GROUP BY 1),
       |cand AS (
       |  SELECT substr(word, i, l) AS piece, sum(freq) AS cnt
       |  FROM wf, unnest(generate_series(1, $ugW)) AS ti(i),
       |    unnest(generate_series(1, $ugL)) AS tl(l)
       |  WHERE i + l - 1 <= wl GROUP BY 1),
       |seed AS (
       |  SELECT piece, cnt * length(piece) AS score FROM cand WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt * length(piece) AS score FROM (
       |    SELECT piece, cnt FROM cand WHERE length(piece) > 1
       |    ORDER BY cnt * length(piece) DESC, piece LIMIT $ugSeedMulti)),
       |p0 AS MATERIALIZED (
       |  SELECT piece,
       |    CAST(score AS DOUBLE) / CAST((SELECT sum(score) FROM seed) AS DOUBLE) AS p
       |  FROM seed)""".stripMargin +
      duckUnigramEm("u1", "p0", "p1") +
      duckUnigramEm("u2", "p1", "p2") +
      s""",
       |keep AS (
       |  SELECT piece, p FROM p2 WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, p FROM (
       |    SELECT piece, p FROM p2 WHERE length(piece) > 1
       |    ORDER BY round(p, 10) DESC, piece LIMIT $ugVocabMulti)),
       |q0 AS MATERIALIZED (
       |  SELECT piece, p / (SELECT sum(p) FROM keep) AS p FROM keep)""".stripMargin +
      duckUnigramEm("u3", "q0", "q1") +
      duckUnigramEm("u4", "q1", "q2")

  private def duckUnigramTrain: String =
    duckUnigramTrainCtes + "\nSELECT piece, round(ln(p), 4) AS logprob FROM q2"

  /** Viterbi decode oracle: per distinct word, chained per-node CTEs —
    * candidates (cumulative score rounded to 6 dp), node best via
    * `greatest`, and the chosen path as a chr(31)-joined piece string
    * with the longest-candidate-first CASE reproducing the kernel's
    * tie-break — then re-joined to (doc, word_idx) and id-joined. */
  private def duckUnigramEncode: String = {
    val sb = new StringBuilder
    sb ++= duckUnigramTrainCtes
    sb ++= s""",
       |lpt AS MATERIALIZED (SELECT piece, ln(p) AS lp FROM q2),
       |vid AS MATERIALIZED (
       |  SELECT piece, CAST(row_number() OVER (ORDER BY piece) - 1 AS BIGINT) AS id FROM q2),
       |d AS (SELECT doc_id, text FROM documents
       |      UNION ALL SELECT CAST(-1 AS BIGINT), 'zz xx'),
       |tok AS (
       |  SELECT doc_id, CAST(j - 1 AS INT) AS word_idx, ws[j] AS w
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM d),
       |    unnest(generate_series(1, len(ws))) AS t(j)
       |  WHERE ws[j] != ''),
       |v0 AS (SELECT w, length(w) AS wl, 0.0 AS s0, '' AS g0 FROM (SELECT DISTINCT w FROM tok))""".stripMargin
    for (j <- 1 to ugW) {
      val ls = (1 to math.min(ugL, j)).reverse
      val cands = ls.map { l =>
        val sub = s"substr(w, ${j - l + 1}, $l)"
        val lp =
          if (l == 1) s"COALESCE((SELECT lp FROM lpt WHERE piece = $sub), -100.0)"
          else s"(SELECT lp FROM lpt WHERE piece = $sub)"
        s"CASE WHEN $j <= wl THEN round(s${j - l} + $lp, 6) END AS c${j}_$l"
      }.mkString(",\n    ")
      val grExpr =
        if (ls.size == 1) s"c${j}_1"
        else "greatest(" + ls.map(l => s"COALESCE(c${j}_$l, -1e18)").mkString(", ") + ")"
      val arms = ls.map { l =>
        s"WHEN c${j}_$l IS NOT NULL AND c${j}_$l = s$j THEN g${j - l} || chr(31) || substr(w, ${j - l + 1}, $l)"
      }.mkString("\n    ")
      val prev = if (j == 1) "v0" else s"v${j - 1}c"
      sb ++= s""",
       |v${j}a AS (SELECT *,
       |    $cands
       |  FROM $prev),
       |v${j}b AS (SELECT *, CASE WHEN $j <= wl THEN $grExpr END AS s$j FROM v${j}a),
       |v${j}c AS (SELECT *, CASE WHEN $j > wl THEN NULL
       |    $arms END AS g$j FROM v${j}b)""".stripMargin
    }
    val gSel = (1 to ugW).map(j => s"WHEN $j THEN g$j").mkString(" ")
    sb ++= s""",
       |vout AS (SELECT w, CASE wl $gSel END AS path FROM v${ugW}c),
       |seg AS (
       |  SELECT w, CAST(j - 1 AS INT) AS sym_idx, ps[j] AS piece
       |  FROM (SELECT w, string_split(substr(path, 2), chr(31)) AS ps FROM vout),
       |    unnest(generate_series(1, len(ps))) AS t(j))
       |SELECT t.doc_id, t.word_idx, s.sym_idx, s.piece,
       |  COALESCE(v.id, CAST(-1 AS BIGINT)) AS token_id
       |FROM tok t JOIN seg s ON s.w = t.w LEFT JOIN vid v ON v.piece = s.piece""".stripMargin
    sb.result()
  }

  private def duckBpeChain(n: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH wf AS MATERIALIZED (
       |  SELECT w AS word, count(*) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w != '' AND NOT contains(w, chr(2)) AND NOT contains(w, chr(3))
       |  GROUP BY 1),
       |w0 AS MATERIALIZED (
       |  SELECT freq, ${duckBpeFrame("word")} AS repr FROM wf)""".stripMargin
    for (i <- 1 to n) {
      val prev = s"w${i - 1}"
      sb ++= s""",
       |p$i AS (
       |  SELECT syms[j] AS l, syms[j + 1] AS r, sum(freq) AS c
       |  FROM (SELECT freq, ${duckBpeSyms("repr")} AS syms FROM $prev),
       |    unnest(generate_series(1, len(syms) - 1)) AS t(j)
       |  GROUP BY 1, 2),
       |b$i AS MATERIALIZED (SELECT l, r, c FROM p$i ORDER BY c DESC, l, r LIMIT 1)""".stripMargin
      if (i < n) sb ++= s""",
       |w$i AS MATERIALIZED (
       |  SELECT freq, replace(repr,
       |    COALESCE((SELECT chr(2) || l || chr(3) || chr(2) || r || chr(3) FROM b$i),
       |             chr(2) || chr(2)),
       |    COALESCE((SELECT chr(2) || l || r || chr(3) FROM b$i), '')) AS repr
       |  FROM $prev)""".stripMargin
    }
    sb.result()
  }

  /** BPE training oracle: the b1..bn argmax rows stitched into the
    * (rank, left_sym, right_sym, merged, pair_count) merge table. */
  private def duckBpeTrain(n: Int): String =
    duckBpeChain(n) + "\n" + (1 to n).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS rank, l AS left_sym, r AS right_sym,
         |  l || r AS merged, CAST(c AS BIGINT) AS pair_count FROM b$i""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** The alphabet+merges vocabulary CTEs (duplicate surface forms
    * collapsed to the smallest id — `BpeModel.vocab`'s contract),
    * appended after [[duckBpeChain]]. Shared by the encode and
    * tokenized-pipeline oracles. */
  private def duckBpeVocabCtes(n: Int): String = {
    val mergeUnion = (1 to n)
      .map(i => s"SELECT $i AS rank, l, r FROM b$i").mkString(" UNION ALL ")
    s""",
       |alpha AS MATERIALIZED (
       |  SELECT sym, CAST(row_number() OVER (ORDER BY sym) - 1 AS BIGINT) AS id
       |  FROM (SELECT DISTINCT c AS sym
       |        FROM (SELECT unnest(string_split(word, '')) AS c FROM wf)
       |        WHERE c != '')),
       |vocab AS MATERIALIZED (
       |  SELECT sym, min(id) AS id FROM (
       |    SELECT sym, id FROM alpha
       |    UNION ALL
       |    SELECT l || r AS sym, (SELECT count(*) FROM alpha) + rank - 1 AS id
       |    FROM ($mergeUnion)
       |  ) GROUP BY 1)""".stripMargin
  }

  /** The per-(doc, word) merge-application chain: frame `srcCte`'s
    * (doc_id, word_idx, w) rows and replay the n merges in rank order.
    * CTE names prefixed `pfx` so two chains can coexist in one WITH. */
  private def duckBpeEncChain(n: Int, srcCte: String, pfx: String): String = {
    val chain = (1 to n).map { i =>
      s""",
       |$pfx$i AS (SELECT doc_id, word_idx, replace(repr,
       |    COALESCE((SELECT chr(2) || l || chr(3) || chr(2) || r || chr(3) FROM b$i),
       |             chr(2) || chr(2)),
       |    COALESCE((SELECT chr(2) || l || r || chr(3) FROM b$i), '')) AS repr
       |  FROM $pfx${i - 1})""".stripMargin
    }.mkString
    s""",
       |${pfx}0 AS (SELECT doc_id, word_idx, ${duckBpeFrame("w")} AS repr FROM $srcCte)""".stripMargin +
      chain
  }

  /** BPE encoding oracle: replay the training chain for the model, build
    * the vocabulary, then frame every word of documents ∪ the OOV
    * sentinel, apply the n merges in rank order, and id-join the
    * resulting symbols. */
  private def duckBpeEncode(n: Int): String = {
    duckBpeChain(n) + duckBpeVocabCtes(n) + s""",
       |d AS (SELECT doc_id, text FROM documents
       |      UNION ALL SELECT CAST(-1 AS BIGINT), 'zz xx'),
       |tok AS (
       |  SELECT doc_id, CAST(j - 1 AS INT) AS word_idx, ws[j] AS w
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM d),
       |    unnest(generate_series(1, len(ws))) AS t(j)
       |  WHERE ws[j] != '')""".stripMargin +
      duckBpeEncChain(n, "tok", "e") + s""",
       |s AS (
       |  SELECT doc_id, word_idx, CAST(j - 1 AS INT) AS sym_idx, syms[j] AS sym
       |  FROM (SELECT doc_id, word_idx, ${duckBpeSyms("repr")} AS syms FROM e$n),
       |    unnest(generate_series(1, len(syms))) AS t(j))
       |SELECT doc_id, word_idx, sym_idx,
       |  COALESCE(v.id, CAST(-1 AS BIGINT)) AS token_id
       |FROM s LEFT JOIN vocab v ON s.sym = v.sym""".stripMargin
  }

  /** Pipeline stages 1–2 (gates → exact dedup) as CTEs `t0..s2` —
    * shared by every pipeline oracle; each stage's idiom is copied
    * verbatim from its single-operator oracle row. */
  private val duckPipeStages12: String =
    """t0 AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 50 <> 0),
      |g0 AS (SELECT doc_id,
      |    list_filter(string_split_regex(text, '[ \n\t\r]+'), w -> w != '') AS wsa,
      |    length(text) AS tlen
      |  FROM t0),
      |grams AS (SELECT doc_id,
      |    unnest(list_transform(range(1, len(wsa)), i -> wsa[i] || ' ' || wsa[i+1])) AS gram
      |  FROM g0 WHERE len(wsa) >= 2),
      |gagg AS (SELECT doc_id, gram, count(*) AS cnt FROM grams GROUP BY 1, 2),
      |gtop AS (SELECT doc_id, cnt, gram,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rk
      |  FROM gagg),
      |gfrac AS (SELECT g0.doc_id,
      |    round(coalesce(t.cnt * len(t.gram), 0)::DOUBLE / g0.tlen, 4) AS frac
      |  FROM g0 LEFT JOIN (SELECT doc_id, cnt, gram FROM gtop WHERE rk = 1) t USING (doc_id)),
      |lh AS (SELECT doc_id,
      |    count(*) FILTER (WHERE lower(tok) IN ('zebra', 'slow')) AS n_hits
      |  FROM (SELECT doc_id, unnest(wsa) AS tok FROM g0) GROUP BY 1),
      |s1 AS (SELECT t0.* FROM t0
      |  JOIN gfrac USING (doc_id) LEFT JOIN lh USING (doc_id)
      |  WHERE gfrac.frac <= 0.20 AND coalesce(lh.n_hits, 0) = 0),
      |s2 AS MATERIALIZED (SELECT doc_id, lang, text FROM (
      |    SELECT s1.*, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |    FROM s1) WHERE rn = 1)""".stripMargin

  /** Pipeline stages 3–5 (decontaminate → calibrate → temperature),
    * parameterised by the post-dedup source CTE (`s2` for the plain
    * pipelines, `s2n` when the near-dup keeper sits in between). */
  private def duckPipeStages35(src: String): String =
    s"""tgram AS (SELECT doc_id, unnest(list_distinct(
      |    list_transform(range(1, len(ws) - 8), i -> array_to_string(ws[i:i+9], ' ')))) AS gram
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM $src)
      |  WHERE len(ws) >= 10),
      |bgram AS (SELECT DISTINCT unnest(list_distinct(
      |    list_transform(range(1, len(ws) - 8), i -> array_to_string(ws[i:i+9], ' ')))) AS gram
      |  FROM (SELECT string_split(text, ' ') AS ws FROM documents WHERE doc_id % 50 = 0)
      |  WHERE len(ws) >= 10),
      |contam AS (SELECT DISTINCT tgram.doc_id FROM tgram JOIN bgram USING (gram)),
      |s3 AS (SELECT $src.* FROM $src WHERE NOT EXISTS
      |  (SELECT 1 FROM contam c WHERE c.doc_id = $src.doc_id)),
      |q AS (SELECT doc_id, lang, text,
      |    round(least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0, 1.0) *
      |      (1.0 - CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE)
      |        / length(text)), 4) AS qv
      |  FROM s3),
      |s4 AS (SELECT doc_id, lang, text FROM (
      |    SELECT q.*, round(percent_rank() OVER (PARTITION BY lang ORDER BY qv, doc_id), 4) AS q_rank
      |    FROM q) WHERE q_rank >= 0.1),
      |c5 AS (SELECT lang, count(*) AS n FROM s4 GROUP BY 1),
      |sh5 AS (SELECT lang, n, n::DOUBLE / SUM(n) OVER () AS share FROM c5),
      |pw5 AS (SELECT lang, share, POW(share, 0.5) AS pw FROM sh5),
      |z5 AS (SELECT lang, share, pw / SUM(pw) OVER () AS target FROM pw5),
      |r5 AS (SELECT lang,
      |    round((target / share) / MAX(target / share) OVER (), 4) AS rate FROM z5),
      |s5 AS (SELECT s4.* FROM s4 JOIN r5 USING (lang)
      |  WHERE ('0x' || substr(md5(s4.lang || ':' || CAST(s4.doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000
      |    < CAST(round(r5.rate * 10000) AS BIGINT))""".stripMargin

  /** Pipeline stages 1–5 as one block (the plain `s2`-fed chain) —
    * shared by the e2e and tokenized pipeline oracles. */
  private val duckPipeStages: String =
    duckPipeStages12 + ",\n" + duckPipeStages35("s2")

  /** Stage 2b: the sized-simhash near-dup CLUSTER KEEPER between exact
    * dedup (`s2`) and decontamination — `s2n` = the best-quality doc
    * (4-dp quality, doc_id asc tie-break) per connected component of the
    * banded-hamming pair graph, plus every unpaired doc. Width sizing,
    * signature, banding and the hamming verify are copied verbatim from
    * the `x_simhash_pairs_sized` oracle (over `s2` instead of
    * `documents`); the component labelling is `x_dedup_cluster`'s
    * recursive min-propagation; the keeper rank is
    * `x_dedup_cluster_best`'s window. Requires WITH RECURSIVE. The `nw`
    * coalesce mirrors `simhashWidthFor`'s clamp: above 64 << 14 ≈ 1.05M
    * post-dedup docs MIN(p) over range(8, 15) is NULL (no width holds
    * 64/band), and the Scala side clamps to w = 14 with a warning — the
    * coalesce keeps both engines on the same signature there instead of
    * NULLing the whole chain. */
  private val duckNearKeeper: String =
    """nw AS (
      |  SELECT coalesce(MIN(p), 14) AS w FROM range(8, 15) t(p)
      |  WHERE (SELECT count(*) FROM s2) <= (CAST(64 AS BIGINT) << p)),
      |nex AS (
      |  SELECT doc_id, ('0x'||substr(md5(w),1,14))::BIGINT AS h
      |  FROM s2, unnest(string_split(text, ' ')) AS t(w)),
      |nagg AS (
      |  SELECT doc_id,
      |""".stripMargin +
    (0 until 56).map(b => s"    sum(((h >> $b) & 1) * 2 - 1) AS s$b")
      .mkString(",\n") +
    """
      |  FROM nex GROUP BY doc_id),
      |nsig AS MATERIALIZED (SELECT doc_id,
      |""".stripMargin +
    (0 until 56).map(b =>
      s"  (CASE WHEN $b < 4 * (SELECT w FROM nw) AND s$b > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" +\n") +
    s""" AS sh FROM nagg),
      |nband AS (SELECT doc_id, sh, band,
      |    (sh >> (band * (SELECT w FROM nw)))
      |      & ((CAST(1 AS BIGINT) << (SELECT w FROM nw)) - 1) AS key
      |  FROM nsig, unnest(generate_series(0, 3)) AS t(band)),
      |npairs AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM nband a JOIN nband b
      |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.sh, b.sh)) <= 3),
      |nedges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM npairs
      |  UNION SELECT doc_b, doc_a FROM npairs),
      |ncc(id, comp) AS (
      |  SELECT DISTINCT src, src FROM nedges
      |  UNION
      |  SELECT e.src, ncc.comp FROM nedges e JOIN ncc ON ncc.id = e.dst),
      |ncomp AS MATERIALIZED (SELECT id, min(comp) AS component FROM ncc GROUP BY id),
      |nq AS MATERIALIZED (SELECT doc_id, $duckQualityExpr AS q
      |  FROM s2),
      |ndrop AS MATERIALIZED (SELECT doc_id FROM (
      |    SELECT m.id AS doc_id,
      |      row_number() OVER (PARTITION BY m.component ORDER BY nq.q DESC, m.id) AS rk
      |    FROM ncomp m JOIN nq ON nq.doc_id = m.id) WHERE rk > 1),
      |s2n AS MATERIALIZED (SELECT s2.* FROM s2 WHERE NOT EXISTS
      |  (SELECT 1 FROM ndrop d WHERE d.doc_id = s2.doc_id))""".stripMargin

  /** The shared e2e tail: whitespace-token pack + 8-shard seeded
    * shuffle over the stage-5 survivors. */
  private val duckPipeTailE2e: String =
    """s6 AS (SELECT doc_id, lang,
      |    lang || '#' || CAST((SUM(len(string_split(text, ' '))) OVER w
      |        - len(string_split(text, ' '))) // 2000 AS VARCHAR) AS seq_id,
      |    CAST((SUM(len(string_split(text, ' '))) OVER w
      |        - len(string_split(text, ' '))) % 2000 AS BIGINT) AS seq_offset
      |  FROM s5
      |  WINDOW w AS (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING))
      |SELECT doc_id, lang, seq_id, seq_offset,
      |  CAST(hv % 8 AS INT) AS shard,
      |  CAST(row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS BIGINT) AS pos
      |FROM (SELECT s6.*,
      |    ('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS hv
      |  FROM s6)""".stripMargin

  /** Seven-stage e2e pipeline oracle: stages 1–5 + whitespace-token pack
    * + 8-shard seeded shuffle. */
  private val duckPipelineE2e: String =
    "WITH " + duckPipeStages + ",\n" + duckPipeTailE2e

  /** Eight-stage near-dup pipeline oracle: stages 1–2, the simhash
    * cluster keeper (stage 2b, recursive component labelling), stages
    * 3–5 over the keeper's survivors, then the shared e2e tail. */
  private val duckPipelineNear: String =
    "WITH RECURSIVE " + duckPipeStages12 + ",\n" + duckNearKeeper + ",\n" +
      duckPipeStages35("s2n") + ",\n" + duckPipeTailE2e

  /** Near-dup drop-at-ingest oracle: replays the streaming gate's batch
    * shape over the FULL documents table — sized-width signatures
    * (`x_simhash_pairs_sized`'s idiom via the shared `nw` sizing rule,
    * here over `documents`), banded candidate generation with self-ids
    * excluded (`a.doc_id <> b.doc_id`, not `<`: the gate judges every
    * ingested doc against every indexed member, both directions), the
    * keeper-order filter (witness beats the doc on quality desc, id
    * asc) and the best-witness rank. MATERIALIZED fences keep the
    * 56-sum signature chain and the quality table single-evaluation
    * across the band self-join's two consumers. */
  private val duckNearIngest: String = {
    val sums = (0 until 56)
      .map(b => s"    sum(((h >> $b) & 1) * 2 - 1) AS s$b").mkString(",\n")
    val sig = (0 until 56).map(b =>
      s"  (CASE WHEN $b < 4 * (SELECT w FROM gw) AND s$b > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" +\n")
    s"""WITH gw AS (
      |  SELECT coalesce(MIN(p), 14) AS w FROM range(8, 15) t(p)
      |  WHERE (SELECT count(*) FROM documents) <= (CAST(64 AS BIGINT) << p)),
      |gex AS (
      |  SELECT doc_id, ('0x'||substr(md5(w),1,14))::BIGINT AS h
      |  FROM documents, unnest(string_split(text, ' ')) AS t(w)),
      |gagg AS (
      |  SELECT doc_id,
      |$sums
      |  FROM gex GROUP BY doc_id),
      |gsig AS MATERIALIZED (SELECT doc_id,
      |$sig AS sh FROM gagg),
      |gq AS MATERIALIZED (SELECT doc_id, $duckQualityExpr AS q
      |  FROM documents),
      |gband AS (SELECT doc_id, sh, band,
      |    (sh >> (band * (SELECT w FROM gw)))
      |      & ((CAST(1 AS BIGINT) << (SELECT w FROM gw)) - 1) AS key
      |  FROM gsig, unnest(generate_series(0, 3)) AS t(band)),
      |gcand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS id, b.doc_id AS mid
      |  FROM gband a JOIN gband b
      |    ON a.band = b.band AND a.key = b.key AND a.doc_id <> b.doc_id
      |  WHERE bit_count(xor(a.sh, b.sh)) <= 3),
      |gbest AS (SELECT id, mid, mq FROM (
      |    SELECT c.id, c.mid, qm.q AS mq,
      |      row_number() OVER (PARTITION BY c.id ORDER BY qm.q DESC, c.mid) AS rk
      |    FROM gcand c
      |    JOIN gq qa ON qa.doc_id = c.id
      |    JOIN gq qm ON qm.doc_id = c.mid
      |    WHERE qm.q > qa.q OR (qm.q = qa.q AND c.mid < c.id)) WHERE rk = 1)
      |SELECT d.doc_id, s.sh AS sig, b.mid AS witness, b.mq AS witness_q,
      |  b.mid IS NOT NULL AS dropped
      |FROM documents d
      |JOIN gsig s ON s.doc_id = d.doc_id
      |LEFT JOIN gbest b ON b.id = d.doc_id""".stripMargin
  }

  /** Tokenized pipeline oracle: the BPE training chain + vocabulary over
    * the FULL corpus (the tokenizer is trained upstream of the pipeline,
    * `x_bpe_train`'s framing), stages 1–5, then every surviving doc
    * encoded through the merge chain, fingerprinted (md5 of the
    * ','-joined id sequence in (word, symbol) order), and PACKED ON THE
    * REAL TOKEN COUNTS. Word-less docs keep n_tokens 0 / md5('') — the
    * Spark side's empty-array fingerprint. */
  private def duckPipelineTok(n: Int): String =
    duckBpeChain(n) + duckBpeVocabCtes(n) + ",\n" + duckPipeStages + s""",
      |ptok AS (
      |  SELECT doc_id, CAST(j - 1 AS INT) AS word_idx, ws[j] AS w
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM s5),
      |    unnest(generate_series(1, len(ws))) AS t(j)
      |  WHERE ws[j] != '')""".stripMargin +
      duckBpeEncChain(n, "ptok", "pe") + s""",
      |psym AS (
      |  SELECT doc_id, word_idx, CAST(j - 1 AS INT) AS sym_idx, syms[j] AS sym
      |  FROM (SELECT doc_id, word_idx, ${duckBpeSyms("repr")} AS syms FROM pe$n),
      |    unnest(generate_series(1, len(syms))) AS t(j)),
      |pids AS (
      |  SELECT doc_id, word_idx, sym_idx, COALESCE(v.id, CAST(-1 AS BIGINT)) AS id
      |  FROM psym LEFT JOIN vocab v ON psym.sym = v.sym),
      |ptk AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |    md5(string_agg(CAST(id AS VARCHAR), ',' ORDER BY word_idx, sym_idx)) AS ids_fp
      |  FROM pids GROUP BY 1),
      |s5t AS (SELECT s5.doc_id, s5.lang,
      |    CAST(COALESCE(ptk.n_tokens, 0) AS BIGINT) AS n_tokens,
      |    COALESCE(ptk.ids_fp, md5('')) AS ids_fp
      |  FROM s5 LEFT JOIN ptk USING (doc_id)),
      |s6 AS (SELECT doc_id, lang, n_tokens, ids_fp,
      |    lang || '#' || CAST((SUM(n_tokens) OVER w - n_tokens) // 2000 AS VARCHAR) AS seq_id,
      |    CAST((SUM(n_tokens) OVER w - n_tokens) % 2000 AS BIGINT) AS seq_offset
      |  FROM s5t
      |  WINDOW w AS (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING))
      |SELECT doc_id, lang, n_tokens, ids_fp, seq_id, seq_offset,
      |  CAST(hv % 8 AS INT) AS shard,
      |  CAST(row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS BIGINT) AS pos
      |FROM (SELECT s6.*,
      |    ('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS hv
      |  FROM s6)""".stripMargin

  // === Registry =============================================================

  /** One battery entry: its DataFrame over a data directory, the DuckDB SQL
    * that pins its result on the same parquet tables, and whether it is a
    * negative control — a configuration its own scaladoc steers users
    * away from, oracle-pinned all the same but left out of `graft.Bench`'s
    * headline suite unless named. */
  final case class Query(name: String,
                         build: (SparkSession, String) => DataFrame,
                         oracleSql: String,
                         negativeControl: Boolean = false)

  /** The given queries as a list; fails on a duplicated name, which a
    * name-keyed map literal would silently resolve to its last entry. */
  def registryOf(queries: Query*): Seq[Query] = {
    val dups = queries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"duplicate query name(s): ${dups.toSeq.sorted.mkString(", ")}")
    queries
  }

  /** The names in a comma-separated query filter; fails, listing them
    * sorted, on names that match no registry entry. */
  def filterNames(arg: String): Set[String] = {
    val names = arg.split(',').map(_.trim).filter(_.nonEmpty).toSet
    val unknown = names -- registry.map(_.name)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    names
  }

  /** The battery. Shared md5-prefix hash in the oracles:
    * `('0x'||substr(md5(x),1,8))::BIGINT` == Spark `conv(substr(md5(x),1,8),16,10)`. */
  val registry: Seq[Query] = registryOf(
    Query("q1_agg", q1Agg,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,2))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2""".stripMargin),
    Query("q3_top_orders", q3TopOrders,
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1, 2 ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin),
    Query("q5_region_revenue", q5RegionRevenue,
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' GROUP BY 1""".stripMargin),
    Query("q6_forecast_revenue", q6ForecastRevenue,
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin),
    Query("x_bucketed_join", xBucketedJoin,
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin),
    Query("agg_rollup", aggRollup,
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin),
    Query("agg_distinct", aggDistinct,
      """SELECT event_type, count(DISTINCT user_id) AS users, count(*) AS n
        |FROM events GROUP BY 1""".stripMargin),
    Query("set_ops", setOps,
      """SELECT k, 'active' AS status FROM (
        |  SELECT c_custkey AS k FROM customer INTERSECT SELECT o_custkey AS k FROM orders)
        |UNION ALL
        |SELECT k, 'inactive' AS status FROM (
        |  SELECT c_custkey AS k FROM customer EXCEPT SELECT o_custkey AS k FROM orders)""".stripMargin),
    Query("dedup_rows", dedupRows,
      """SELECT DISTINCT l_returnflag, l_linestatus, CAST(l_shipdate AS DATE) AS ship_date
        |FROM lineitem""".stripMargin),
    Query("w1_running_total", w1RunningTotal,
      """SELECT event_id, user_id,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) OVER
        |    (PARTITION BY user_id ORDER BY event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
        |FROM events WHERE user_id % 10 = 0""".stripMargin),
    Query("w2_sessionize", w2Sessionize,
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms,
        |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_ms
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS new_session
        |  FROM ev),
        |sess AS (
        |  SELECT user_id, ms, CAST(sum(new_session) OVER
        |    (PARTITION BY user_id ORDER BY event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ms) AS start_ms, max(ms) AS end_ms
        |FROM sess GROUP BY 1, 2""".stripMargin),
    Query("s5_json_props", s5JsonProps,
      """SELECT CAST(props->>'$.k' AS INT) AS k, count(*) AS n
        |FROM events GROUP BY 1""".stripMargin),
    Query("t7_klass_fanout", t7KlassFanout,
      """SELECT 'CustomerRecord' AS klass,
        |  trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(upper(c_name),'\.','','g'),'[,;]',' ','g'),'`','''','g'),'\s{2,}',' ','g')) AS name,
        |  c_mktsegment AS segment, NULL AS acctbal, c_custkey AS index
        |FROM customer
        |UNION ALL
        |SELECT 'AccountRecord' AS klass, NULL AS name, NULL AS segment,
        |  CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) AS acctbal, c_custkey AS index
        |FROM customer""".stripMargin),
    Query("t9_fixed_width", t9FixedWidth,
      """SELECT p_partkey AS partkey,
        |  lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_text,
        |  rtrim(rpad(p_brand, 12, ' ')) AS brand
        |FROM part""".stripMargin),
    Query("t12_importer_union", t12ImporterUnion,
      """SELECT CAST(n_nationkey AS VARCHAR) AS key, n_name AS name FROM nation
        |UNION ALL
        |SELECT CAST(r_regionkey AS VARCHAR) AS key, r_name AS name FROM region
        |UNION ALL
        |SELECT CAST(s_suppkey AS VARCHAR) AS key, s_name AS name FROM supplier
        |WHERE s_suppkey < 1000
        |UNION ALL
        |SELECT CAST(c_custkey AS VARCHAR) AS key, c_name AS name FROM customer
        |WHERE c_custkey < 2000""".stripMargin),
    Query("t12b_7z_union", t12b7zUnion,
      """SELECT CAST(n_nationkey AS VARCHAR) AS key, n_name AS name FROM nation
        |UNION ALL
        |SELECT CAST(r_regionkey AS VARCHAR) AS key, r_name AS name FROM region""".stripMargin),
    Query("s12_pdf_text", s12PdfText,
      """SELECT p_partkey AS partkey, p_brand AS brand FROM part
        |WHERE p_partkey < 2000""".stripMargin),
    Query("s9_avro", s9Avro,
      """SELECT CAST(n_nationkey AS VARCHAR) AS key, n_name AS name FROM nation""".stripMargin),
    Query("s11_vcf", s11Vcf,
      """SELECT CAST(p_partkey AS VARCHAR) AS pos, p_brand AS id FROM part
        |WHERE p_partkey < 2000""".stripMargin),
    Query("s15_acroform", s15Acroform,
      """SELECT 'k' || n_nationkey AS field, n_name AS value FROM nation""".stripMargin),
    Query("x_train_split", xTrainSplit,
      """SELECT doc_id,
        |  CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90
        |       THEN 'train' ELSE 'eval' END AS split
        |FROM documents""".stripMargin),
    Query("x_decontaminate", xDecontaminate,
      """WITH g AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(string_split(text, ' ')) - 1),
        |      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
        |           || ' ' || string_split(text, ' ')[i+2]))) AS gram
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0)
        |SELECT g.doc_id, COUNT(*) AS n_shared
        |FROM g JOIN bench USING (gram)
        |WHERE g.doc_id % 50 <> 0
        |GROUP BY 1""".stripMargin),
    Query("x_contamination_frac", xContaminationFrac,
      """WITH g AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(string_split(text, ' ')) - 1),
        |      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
        |           || ' ' || string_split(text, ' ')[i+2]))) AS gram
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
        |scored AS (
        |  SELECT g.doc_id, COUNT(*) AS n_grams,
        |    COUNT(b.gram) AS n_shared
        |  FROM g LEFT JOIN bench b USING (gram)
        |  WHERE g.doc_id % 50 <> 0
        |  GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(s.n_grams, 0) AS n_grams,
        |  coalesce(s.n_shared, 0) AS n_shared,
        |  CASE WHEN s.n_grams IS NULL THEN 0.0
        |       ELSE round(s.n_shared::DOUBLE / s.n_grams, 4) END AS frac
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d
        |LEFT JOIN scored s USING (doc_id)""".stripMargin),
    Query("x_shuffle_shards", xShuffleShards,
      """WITH h AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS hv
        |  FROM documents)
        |SELECT doc_id, CAST(hv % 8 AS INT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS BIGINT) AS pos
        |FROM h""".stripMargin),
    Query("x_stratified", xStratified,
      """SELECT doc_id, lang FROM documents
        |WHERE ('0x' || substr(md5(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000
        |  < CASE lang WHEN 'en' THEN 3000 WHEN 'zh' THEN 8000 ELSE 10000 END""".stripMargin),
    Query("x_profile", xProfile,
      """SELECT lang, count(*) AS n, round(avg(n_chars), 4) AS mean,
        |  round(quantile_cont(n_chars, 0.5), 4) AS p50,
        |  round(quantile_cont(n_chars, 0.95), 4) AS p95
        |FROM documents GROUP BY lang""".stripMargin),
    Query("x_pack", xPack,
      """SELECT doc_id,
        |  lang || '#' || CAST((SUM(len(string_split(text, ' '))) OVER w
        |      - len(string_split(text, ' '))) // 2000 AS VARCHAR) AS seq_id,
        |  CAST((SUM(len(string_split(text, ' '))) OVER w
        |      - len(string_split(text, ' '))) % 2000 AS BIGINT) AS seq_offset
        |FROM documents
        |WINDOW w AS (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING)""".stripMargin),
    Query("x_pack_salted", xPackSalted,
      """WITH d AS (
        |  SELECT doc_id, lang, len(string_split(text, ' ')) AS tok,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 4 AS shard
        |  FROM documents),
        |loc AS (
        |  SELECT doc_id, lang, shard,
        |    SUM(tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |                   ROWS UNBOUNDED PRECEDING) - tok AS local_start
        |  FROM d),
        |off AS (
        |  SELECT lang, shard,
        |    COALESCE(SUM(tot) OVER (PARTITION BY lang ORDER BY shard
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS shard_off
        |  FROM (SELECT lang, shard, SUM(tok) AS tot FROM d GROUP BY 1, 2))
        |SELECT doc_id,
        |  lang || '#' || CAST((local_start + shard_off) // 2000 AS VARCHAR) AS seq_id,
        |  CAST((local_start + shard_off) % 2000 AS BIGINT) AS seq_offset
        |FROM loc JOIN off USING (lang, shard)""".stripMargin),
    Query("x_chunk_overlap", xChunkOverlap,
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |    len(string_split(text, ' ')) AS n FROM documents),
        |c AS (SELECT doc_id, toks, n,
        |  CASE WHEN n <= 64 THEN 1
        |       ELSE CAST(ceil(CAST(n - 16 AS DOUBLE) / 48) AS INT) END AS nchunks
        |  FROM d)
        |SELECT doc_id, CAST(ord AS INT) AS chunk_id,
        |  CAST(ord * 48 AS INT) AS start_tok,
        |  CAST(least(64, n - ord * 48) AS INT) AS n_tok,
        |  array_to_string(list_slice(toks, ord * 48 + 1,
        |    ord * 48 + least(64, n - ord * 48)), ' ') AS chunk
        |FROM c, unnest(generate_series(0, nchunks - 1)) AS t(ord)""".stripMargin),
    Query("x_incremental_dedup", xIncrementalDedup,
      """WITH f AS (SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_fp
        |  FROM documents),
        |newb AS (SELECT * FROM f WHERE doc_id % 10 = 0 OR doc_id % 7 = 0),
        |hist AS (SELECT content_fp FROM f WHERE doc_id % 10 != 0)
        |SELECT doc_id, content_fp FROM newb
        |WHERE NOT EXISTS (SELECT 1 FROM hist WHERE hist.content_fp = newb.content_fp)""".stripMargin),
    Query("x_vocab_encode", xVocabEncode,
      """WITH w0 AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), w -> w != '') AS ws FROM documents),
        |tok AS (SELECT doc_id, pos, ws[pos] AS w
        |        FROM w0, unnest(generate_series(1, len(ws))) AS t(pos)),
        |cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY 1 HAVING count(*) >= 2),
        |vocab AS (SELECT w,
        |    CAST(row_number() OVER (ORDER BY c DESC, w) - 1 AS BIGINT) AS id
        |  FROM (SELECT * FROM cnt ORDER BY c DESC, w LIMIT 4096)),
        |enc AS (SELECT t.doc_id, t.pos, COALESCE(v.id, -1) AS tid
        |        FROM tok t LEFT JOIN vocab v ON t.w = v.w)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN tid = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  md5(string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos)) AS ids_fp
        |FROM enc GROUP BY doc_id""".stripMargin),
    Query("x_bpe_train", xBpeTrain, duckBpeTrain(bpeMergeCount)),
    Query("x_bpe_encode", xBpeEncode, duckBpeEncode(bpeMergeCount)),
    Query("x_unigram_train", xUnigramTrain, duckUnigramTrain),
    Query("x_unigram_encode", xUnigramEncode, duckUnigramEncode),
    // The seven-stage composition re-derived relationally; each stage's
    // idiom is copied verbatim from its single-operator oracle row
    // (x_gopher_quality's gram fragment, x_lexicon_hits, x_dedup_exact's
    // keeper, x_decontaminate at n = 10, x_quality_calibrated,
    // x_temperature_apply's window algebra, x_pack, x_shuffle_shards).
    Query("x_pipeline_e2e", xPipelineE2e, duckPipelineE2e),
    Query("x_pipeline_tok", xPipelineTok, duckPipelineTok(bpeMergeCount)),
    Query("x_pipeline_near", xPipelineNear, duckPipelineNear),
    Query("x_near_ingest", xNearIngest, duckNearIngest),
    // merge ≡ rebuild THROUGH the gate: the incremental-refresh row's
    // oracle is the same full-corpus replay — any merge defect diverges
    Query("x_near_ingest_incr", xNearIngestIncr, duckNearIngest),
    Query("x_near_ingest_lifecycle", xNearIngestLifecycle, duckNearIngest),
    Query("x_sem_ingest_lifecycle", xSemIngestLifecycle, semIngestLifecycleOracleSql),
    Query("x_cluster_topics", xClusterTopics,
      s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS cent
        |  FROM embeddings WHERE vec_id < 16),
        |assigned AS (
        |  SELECT vec_id, label, cent_id AS topic FROM (
        |    SELECT e.vec_id, e.label, c.cent_id,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        ${duckSqDist("e.embedding", "c.cent")}, c.cent_id) AS rn
        |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
        |agg AS (SELECT topic, count(*) AS n, round(avg(label), 4) AS mean_label
        |        FROM assigned GROUP BY 1)
        |SELECT topic, n,
        |  round(CAST(n AS DOUBLE) / (SELECT sum(n) FROM agg), 4) AS pct, mean_label
        |FROM agg""".stripMargin),
    Query("x_quality_filter", xQualityFilter,
      s"""WITH q AS (SELECT doc_id, lang, $duckQualityExpr AS q FROM documents),
        |thr AS (SELECT round(avg(q), 4) AS q_threshold FROM q)
        |SELECT lang, count(*) AS n_kept, round(avg(q), 4) AS mean_q,
        |  max(q_threshold) AS q_threshold
        |FROM q, thr WHERE q >= q_threshold GROUP BY lang""".stripMargin),
    Query("x_source_cap", xSourceCap,
      s"""WITH q AS (SELECT doc_id, source, $duckQualityExpr AS q FROM documents),
        |r AS (SELECT doc_id, source,
        |  row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS rk FROM q)
        |SELECT doc_id, source, rk FROM r WHERE rk <= 10""".stripMargin),
    Query("x_token_budget", xTokenBudget,
      s"""WITH q AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS toks,
        |    $duckQualityExpr AS q FROM documents),
        |w AS (SELECT doc_id, lang, toks,
        |  CAST(sum(toks) OVER (PARTITION BY lang ORDER BY q DESC, doc_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
        |  CAST(sum(toks) OVER (PARTITION BY lang) AS BIGINT) AS total FROM q)
        |SELECT doc_id, lang, cum_tokens FROM w
        |WHERE CAST(cum_tokens - toks AS DOUBLE) < 0.3 * CAST(total AS DOUBLE)""".stripMargin),
    Query("x_unigram_logprob", xUnigramLogprob,
      """WITH w0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |w AS (SELECT * FROM w0 WHERE w != ''),
        |v AS (SELECT w, count(*) AS c FROM w GROUP BY 1),
        |t AS (SELECT sum(c) AS n, count(*) AS vsz FROM v)
        |SELECT doc_id,
        |  round(avg(log10((c + 1)::DOUBLE / (n + vsz))), 4) AS avg_logprob,
        |  count(*) AS n_tokens
        |FROM w JOIN v USING (w) CROSS JOIN t
        |GROUP BY 1""".stripMargin),
    Query("x_bigram_logprob", xBigramLogprob,
      """WITH w0 AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> w != '') AS ws FROM documents),
        |uni AS (SELECT w, count(*) AS c1 FROM (SELECT unnest(ws) AS w FROM w0) GROUP BY 1),
        |t AS (SELECT count(*) AS vsz FROM uni),
        |bg AS (SELECT doc_id, unnest(ws[1:len(ws)-1]) AS w1, unnest(ws[2:len(ws)]) AS w2
        |       FROM w0 WHERE len(ws) >= 2),
        |bc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2)
        |SELECT doc_id,
        |  round(avg(log10((c12 + 1)::DOUBLE / (c1 + vsz))), 4) AS avg_logprob,
        |  count(*) AS n_bigrams
        |FROM bg JOIN bc USING (w1, w2) JOIN uni ON bg.w1 = uni.w CROSS JOIN t
        |GROUP BY 1""".stripMargin),
    Query("x_bigram_logprob_hashed", xBigramLogprobHashed,
      """WITH w0 AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> w != '') AS ws FROM documents),
        |uni AS (SELECT w, count(*) AS c1 FROM (SELECT unnest(ws) AS w FROM w0) GROUP BY 1),
        |t AS (SELECT count(*) AS vsz FROM uni),
        |bg AS (SELECT doc_id, unnest(ws[1:len(ws)-1]) AS w1, unnest(ws[2:len(ws)]) AS w2
        |       FROM w0 WHERE len(ws) >= 2),
        |hc AS (SELECT ('0x'||substr(md5(w1||' '||w2),1,8))::BIGINT % 2097152 AS b,
        |         count(*) AS c12
        |       FROM bg GROUP BY 1)
        |SELECT doc_id,
        |  round(avg(log10((c12 + 1)::DOUBLE / (c1 + vsz))), 4) AS avg_logprob,
        |  count(*) AS n_bigrams
        |FROM bg
        |  JOIN hc ON hc.b = ('0x'||substr(md5(bg.w1||' '||bg.w2),1,8))::BIGINT % 2097152
        |  JOIN uni ON bg.w1 = uni.w CROSS JOIN t
        |GROUP BY 1""".stripMargin),
    Query("x_inverted_index", xInvertedIndex,
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM toks WHERE len(term) > 0 GROUP BY 1, 2),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT term, count(*) AS df, sum(tf)::BIGINT AS cf,
        |  round(ln((n.n_docs - count(*) + 0.5) / (count(*) + 0.5) + 1), 4) AS idf,
        |  array_to_string((list(doc_id ORDER BY doc_id))[1:5], ',') AS postings_sample
        |FROM tf CROSS JOIN n
        |GROUP BY term, n.n_docs""".stripMargin),
    Query("x_bm25", xBm25, bm25OracleSqlFor(k = 5)),
    Query("x_tfidf_keywords", xTfidfKeywords,
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM toks WHERE len(term) > 0 GROUP BY 1, 2),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |wdf AS (
        |  SELECT doc_id, term, tf, count(*) OVER (PARTITION BY term) AS df FROM tf),
        |scored AS (
        |  SELECT doc_id, term,
        |    round(tf * ln(n.n_docs::DOUBLE / (df + 1)), 4) AS score
        |  FROM wdf CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, term, score FROM ranked WHERE rank <= 3""".stripMargin),
    Query("x_weighted_sample", xWeightedSample,
      """WITH keyed AS (
        |  SELECT doc_id, n_chars,
        |    ln((('0x'||substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT + 1.0) / 4294967296.0)
        |      / n_chars AS wkey
        |  FROM documents)
        |SELECT doc_id, n_chars, round(wkey, 4) + 0.0 AS sample_key
        |FROM keyed ORDER BY wkey DESC, doc_id LIMIT 50""".stripMargin),
    Query("x_rrf_hybrid", xRrfHybrid,
      s"""WITH lex AS (${bm25OracleSqlFor(k = 20)}),
         |qv AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
         |cs AS (
         |  SELECT qv.q_id, e.vec_id,
         |    list_sum(list_transform(range(1, 65),
         |      i -> CAST(qv.q_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) /
         |    (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(qv.q_emb[i] AS DOUBLE) * CAST(qv.q_emb[i] AS DOUBLE)))) *
         |     sqrt(list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))) AS cos
         |  FROM embeddings e CROSS JOIN qv WHERE e.vec_id != qv.q_id),
         |dense AS (
         |  SELECT q_id, vec_id AS doc_id, rank FROM (
         |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
         |    FROM cs) WHERE rank <= 20),
         |fused AS (
         |  SELECT coalesce(l.q_id, d.q_id) AS q_id,
         |    coalesce(l.doc_id, d.doc_id) AS doc_id,
         |    round(coalesce(1.0 / (60 + l.rank), 0) + coalesce(1.0 / (60 + d.rank), 0), 6) AS rrf
         |  FROM lex l FULL JOIN dense d ON l.q_id = d.q_id AND l.doc_id = d.doc_id),
         |ranked AS (
         |  SELECT q_id, doc_id, rrf,
         |    row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS rank
         |  FROM fused)
         |SELECT q_id, rank, doc_id, rrf FROM ranked WHERE rank <= 5""".stripMargin),
    Query("x_paragraph_dedup", xParagraphDedup,
      """WITH base AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
        |p0 AS (
        |  SELECT doc_id,
        |    ['SRC ' || source || ' standard boilerplate notice'] ||
        |    list_transform(range(0, CAST(ceil(len(ws) / 10.0) AS BIGINT)),
        |      i -> array_to_string(ws[i*10+1:i*10+10], ' ')) AS ps
        |  FROM base),
        |paras AS (
        |  SELECT doc_id, unnest(range(1, len(ps)+1)) AS pos, unnest(ps) AS para FROM p0),
        |f AS (SELECT para, count(DISTINCT doc_id) AS n_docs FROM paras GROUP BY 1)
        |SELECT doc_id,
        |  coalesce(array_to_string(list(para ORDER BY pos) FILTER (WHERE n_docs <= 8), chr(10)), '') AS clean_text,
        |  count(*) AS n_paras,
        |  CAST(count(*) FILTER (WHERE n_docs > 8) AS BIGINT) AS n_dropped
        |FROM paras JOIN f USING (para)
        |GROUP BY 1""".stripMargin),
    Query("x_lexicon_hits", xLexiconHits,
      """WITH toks AS (
        |  SELECT doc_id, lower(tok) AS tok FROM (
        |    SELECT doc_id,
        |      unnest(list_filter(string_split_regex(text, '[ \n\t\r]+'), w -> w != '')) AS tok
        |    FROM documents)),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |    count(*) FILTER (WHERE tok IN ('slow','batch','merge','zebra')) AS n_hits,
        |    count(DISTINCT tok) FILTER (WHERE tok IN ('slow','batch','merge','zebra')) AS n_terms_hit
        |  FROM toks GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(a.n_tokens, 0) AS INT) AS n_tokens,
        |  CAST(coalesce(a.n_hits, 0) AS INT) AS n_hits,
        |  CAST(coalesce(a.n_terms_hit, 0) AS INT) AS n_terms_hit,
        |  CASE WHEN a.n_tokens IS NULL THEN 0.0
        |       ELSE round(a.n_hits::DOUBLE / a.n_tokens, 4) END AS hit_frac
        |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin),
    Query("x_gopher_quality", xGopherQuality,
      """WITH base AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
        |p0 AS (
        |  SELECT doc_id,
        |    'SRC ' || source || ' standard boilerplate notice' AS banner,
        |    list_transform(range(0, CAST(ceil(len(ws) / 10.0) AS BIGINT)),
        |      i -> CASE WHEN i % 5 = 0
        |           THEN array_to_string(ws[i*10+1:i*10+10], ' ') || '...'
        |           ELSE array_to_string(ws[i*10+1:i*10+10], ' ') END) AS chunks
        |  FROM base),
        |docs2 AS (
        |  SELECT doc_id,
        |    banner || chr(10) || array_to_string(chunks, chr(10)) || chr(10) || banner AS ptext
        |  FROM p0),
        |lrows AS (
        |  SELECT doc_id, unnest(list_filter(string_split(ptext, chr(10)), l -> l != '')) AS line
        |  FROM docs2),
        |lagg AS (
        |  SELECT doc_id, line, count(*) AS cnt, len(line) AS ln,
        |    CASE WHEN line LIKE '%...' OR line LIKE '%…' THEN 1 ELSE 0 END AS ell
        |  FROM lrows GROUP BY 1, 2),
        |lstats AS (
        |  SELECT doc_id, sum(cnt) AS n_lines, sum(cnt - 1) AS dups,
        |    sum((cnt - 1) * ln) AS dupchars, sum(cnt * ln) AS linechars,
        |    sum(cnt * ell) AS nell
        |  FROM lagg GROUP BY 1),
        |w2 AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(ptext, '[ \n\t\r]+'), w -> w != '') AS wsa
        |  FROM docs2),
        |grams AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(wsa)), i -> wsa[i] || ' ' || wsa[i+1])) AS gram
        |  FROM w2 WHERE len(wsa) >= 2),
        |gagg AS (SELECT doc_id, gram, count(*) AS cnt FROM grams GROUP BY 1, 2),
        |gtop AS (
        |  SELECT doc_id, cnt, gram,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rk
        |  FROM gagg),
        |gbest AS (SELECT doc_id, cnt * len(gram) AS topchars FROM gtop WHERE rk = 1)
        |SELECT l.doc_id,
        |  CAST(l.n_lines AS INT) AS n_lines,
        |  round(l.dups::DOUBLE / l.n_lines, 4) AS dup_line_frac,
        |  round(l.dupchars::DOUBLE / l.linechars, 4) AS dup_line_char_frac,
        |  round(l.nell::DOUBLE / l.n_lines, 4) AS ellipsis_line_frac,
        |  round(coalesce(g.topchars, 0)::DOUBLE / len(d.ptext), 4) AS top_2gram_char_frac
        |FROM lstats l JOIN docs2 d USING (doc_id) LEFT JOIN gbest g USING (doc_id)""".stripMargin),
    Query("x_substring_spans", xSubstringSpans,
      """WITH base AS (
        |  SELECT doc_id,
        |    array_to_string(list_transform(range(1, 21),
        |      i -> 'hdr' || CAST(i AS VARCHAR) || '_' || source), ' ') || ' ' || text AS ptext
        |  FROM documents),
        |w0 AS (SELECT doc_id, list_filter(string_split(ptext, ' '), w -> w != '') AS ws FROM base),
        |w AS (SELECT doc_id, ws FROM w0 WHERE len(ws) >= 10),
        |spans AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(0, len(ws) - 10 + 1), k -> k + 1)) AS start,
        |    unnest(list_transform(range(0, len(ws) - 10 + 1),
        |      k -> ('0x' || substr(md5(array_to_string(ws[k+1:k+10], ' ')), 1, 8))::BIGINT)) AS gram_h
        |  FROM w),
        |f AS (SELECT gram_h, count(DISTINCT doc_id) AS n_docs FROM spans
        |      GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2)
        |SELECT doc_id, start, gram_h, n_docs FROM spans JOIN f USING (gram_h)""".stripMargin),
    Query("x_contaminated_spans", xContaminatedSpans,
      """WITH w0 AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w != '') AS ws
        |  FROM documents WHERE doc_id % 50 <> 0),
        |bw AS (
        |  SELECT DISTINCT unnest(list_transform(range(0, len(ws) - 10 + 1),
        |    k -> ('0x' || substr(md5(array_to_string(ws[k+1:k+10], ' ')), 1, 8))::BIGINT)) AS gram_h
        |  FROM (SELECT list_filter(string_split(text, ' '), w -> w != '') AS ws
        |        FROM documents WHERE doc_id % 50 = 0)
        |  WHERE len(ws) >= 10),
        |spans AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(0, len(ws) - 10 + 1), k -> k + 1)) AS start,
        |    unnest(list_transform(range(0, len(ws) - 10 + 1),
        |      k -> ('0x' || substr(md5(array_to_string(ws[k+1:k+10], ' ')), 1, 8))::BIGINT)) AS gram_h
        |  FROM w0 WHERE len(ws) >= 10),
        |cov AS (
        |  SELECT DISTINCT s.doc_id, u.i AS idx
        |  FROM spans s JOIN bw USING (gram_h), UNNEST(range(s.start, s.start + 10)) AS u(i)),
        |toks AS (
        |  SELECT doc_id, unnest(ws) AS tok, unnest(range(1, len(ws) + 1)) AS idx FROM w0)
        |SELECT t.doc_id,
        |  coalesce(string_agg(t.tok, ' ' ORDER BY t.idx) FILTER (WHERE c.idx IS NULL), '') AS clean_text,
        |  count(c.idx) AS n_removed
        |FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.idx = c.idx
        |GROUP BY t.doc_id""".stripMargin),
    Query("x_remove_spans", xRemoveSpans,
      """WITH base AS (
        |  SELECT doc_id,
        |    array_to_string(list_transform(range(1, 21),
        |      i -> 'hdr' || CAST(i AS VARCHAR) || '_' || source), ' ') || ' ' || text AS ptext
        |  FROM documents),
        |w0 AS (SELECT doc_id, list_filter(string_split(ptext, ' '), w -> w != '') AS ws FROM base),
        |w AS (SELECT doc_id, ws FROM w0 WHERE len(ws) >= 10),
        |spans AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(0, len(ws) - 10 + 1), k -> k + 1)) AS start,
        |    unnest(list_transform(range(0, len(ws) - 10 + 1),
        |      k -> ('0x' || substr(md5(array_to_string(ws[k+1:k+10], ' ')), 1, 8))::BIGINT)) AS gram_h
        |  FROM w),
        |f AS (SELECT gram_h FROM spans GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (
        |  SELECT DISTINCT s.doc_id, u.i AS idx
        |  FROM spans s JOIN f USING (gram_h), UNNEST(range(s.start, s.start + 10)) AS u(i)),
        |toks AS (
        |  SELECT doc_id, unnest(ws) AS tok,
        |    unnest(range(1, len(ws) + 1)) AS idx
        |  FROM w0)
        |SELECT t.doc_id,
        |  coalesce(string_agg(t.tok, ' ' ORDER BY t.idx) FILTER (WHERE c.idx IS NULL), '') AS clean_text,
        |  count(c.idx) AS n_removed
        |FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.idx = c.idx
        |GROUP BY t.doc_id""".stripMargin),
    Query("x_temperature_mix", xTemperatureMix,
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |s AS (SELECT lang, n, n::DOUBLE / SUM(n) OVER () AS share FROM c),
        |p AS (SELECT lang, n, share, POW(share, 0.5) AS pw FROM s),
        |z AS (SELECT lang, n, share, pw / SUM(pw) OVER () AS target FROM p),
        |r AS (SELECT lang, n, share, target, target / share AS rate FROM z)
        |SELECT lang, n, round(share, 4) AS share,
        |  round(target, 4) AS target_share,
        |  round(rate / MAX(rate) OVER (), 4) AS rate
        |FROM r""".stripMargin),
    Query("x_temperature_apply", xTemperatureApply,
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |s AS (SELECT lang, n, n::DOUBLE / SUM(n) OVER () AS share FROM c),
        |p AS (SELECT lang, share, POW(share, 0.5) AS pw FROM s),
        |z AS (SELECT lang, share, pw / SUM(pw) OVER () AS target FROM p),
        |r AS (SELECT lang,
        |        round((target / share) / MAX(target / share) OVER (), 4) AS rate
        |      FROM z)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN r USING (lang)
        |WHERE ('0x' || substr(md5(d.lang || ':' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000
        |  < CAST(round(r.rate * 10000) AS BIGINT)""".stripMargin),
    Query("x_quality_calibrated", xQualityCalibrated,
      """SELECT doc_id, lang, q AS quality,
        |  round(percent_rank() OVER (PARTITION BY lang ORDER BY q, doc_id), 4) AS q_rank
        |FROM (
        |  SELECT doc_id, lang,
        |    round(least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0, 1.0) *
        |      (1.0 - CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE) / length(text)), 4) AS q
        |  FROM documents)""".stripMargin),
    Query("x_redact", xRedact,
      """SELECT doc_id,
        |  md5(regexp_replace(regexp_replace(
        |    text || ' contact user' || doc_id || '@example.com or 0161 496 ' ||
        |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
        |    '[A-Za-z0-9._]+@[A-Za-z0-9.]+', '<EMAIL>', 'g'),
        |    '0161 496 [0-9]{4}', '<PHONE>', 'g')) AS clean_hash
        |FROM documents""".stripMargin),
    Query("x_rep_ratio", xRepRatio,
      """SELECT doc_id,
        |  round(1.0 - CAST(len(list_distinct(string_split_regex(trim(text), ' +'))) AS DOUBLE)
        |            / CAST(len(string_split_regex(trim(text), ' +')) AS DOUBLE), 4) AS rep_ratio
        |FROM documents""".stripMargin),
    Query("n3_segments", n3Segments,
      """SELECT CAST(o_orderkey AS VARCHAR) AS okey, o_orderpriority AS prio,
        |  o_orderstatus AS status
        |FROM orders""".stripMargin),
    Query("x3_xml_repeat", x3XmlRepeat,
      """SELECT 'Cust#1' AS klass, c_custkey AS custkey, c_name AS phone FROM customer
        |UNION ALL
        |SELECT 'Cust#2' AS klass, c_custkey AS custkey, 'alt-' || c_name AS phone
        |FROM customer""".stripMargin),
    Query("m8_dates", m8Dates,
      """SELECT o_orderkey,
        |  strptime(strftime(o_orderdate, '%d/%m/%Y'), '%d/%m/%Y')::DATE AS parsed_date,
        |  (DATE '1970-01-01' + INTERVAL (o_orderkey % 1000) DAY)::DATE AS daysafter_date
        |FROM orders""".stripMargin),
    Query("m10_map_dict", m10MapDict,
      """SELECT CASE l_returnflag WHEN 'A' THEN 'ACCEPTED' WHEN 'R' THEN 'RETURNED'
        |  ELSE l_returnflag END AS flag, count(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin),
    Query("m11_match", m11Match,
      """SELECT p_partkey,
        |  CASE WHEN regexp_matches(p_name, '^(\w+) ')
        |    THEN regexp_extract(p_name, '^(\w+) ', 1) END AS first_word
        |FROM part""".stripMargin),
    Query("m16_priority", m16Priority,
      """SELECT p_partkey,
        |  coalesce(nullif(trim(p_brand), ''), nullif(trim(p_type), '')) AS best
        |FROM part""".stripMargin),
    Query("m17_join", m17Join,
      """SELECT p_partkey, concat_ws(' ', p_brand, p_type, p_name) AS joined
        |FROM part""".stripMargin),
    Query("m9_cleaners", m9Cleaners,
      """SELECT c_custkey,
        |  trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(upper(c_name),'\.','','g'),'[,;]',' ','g'),'`','''','g'),'\s{2,}',' ','g')) AS cleaned_name,
        |  regexp_replace(upper(c_name), '[^A-Z0-9]', '', 'g') AS lpi,
        |  regexp_replace(c_name, '[^0-9]', '', 'g') AS digits
        |FROM customer""".stripMargin),
    Query("x_dedup_exact", xDedupExact,
      """SELECT md5(text) AS content_hash, min(doc_id) AS keeper, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin),
    Query("x_minhash", xMinhash,
      """WITH sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(string_split(text, ' ')) >= 3 THEN
        |      list_transform(range(1, len(string_split(text, ' ')) - 1),
        |        i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])
        |    ELSE [] END AS sh
        |  FROM documents),
        |hashed AS (
        |  SELECT doc_id,
        |    list_transform(sh, x -> ('0x'||substr(md5(x),1,8))::BIGINT) AS hs
        |  FROM sh)
        |SELECT doc_id,
        |  list_min(list_transform(hs, h -> (h * 3 + 12345) % 4294967311)) AS mh0,
        |  list_min(list_transform(hs, h -> (h * 5 + 1012348) % 4294967311)) AS mh1,
        |  list_min(list_transform(hs, h -> (h * 7 + 2012351) % 4294967311)) AS mh2,
        |  list_min(list_transform(hs, h -> (h * 9 + 3012354) % 4294967311)) AS mh3,
        |  list_min(list_transform(hs, h -> (h * 11 + 4012357) % 4294967311)) AS mh4,
        |  list_min(list_transform(hs, h -> (h * 13 + 5012360) % 4294967311)) AS mh5
        |FROM hashed""".stripMargin),
    Query("x_minhash_pairs", xMinhashPairs, minhashPairsSql),
    Query("x_dedup_cluster", xDedupCluster,
      s"""WITH RECURSIVE pairs AS ($minhashPairsSql),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |cc(id, comp) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, cc.comp FROM edges e JOIN cc ON cc.id = e.dst)
         |SELECT id AS doc_id, min(comp) AS component FROM cc GROUP BY id""".stripMargin),
    Query("x_dedup_cluster_best", xDedupClusterBest,
      s"""WITH RECURSIVE pairs AS ($minhashPairsSql),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |cc(id, comp) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, cc.comp FROM edges e JOIN cc ON cc.id = e.dst),
         |comp AS (SELECT id AS doc_id, min(comp) AS component FROM cc GROUP BY id),
         |q AS (
         |  SELECT doc_id,
         |    round(least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0, 1.0) *
         |      (1.0 - CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE) / length(text)), 4) AS q
         |  FROM documents),
         |f AS (
         |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component, d.q
         |  FROM q d LEFT JOIN comp c USING (doc_id))
         |SELECT doc_id, component, q,
         |  row_number() OVER (PARTITION BY component ORDER BY q DESC, doc_id) = 1 AS is_canonical
         |FROM f""".stripMargin),
    Query("x_simhash", xSimhash, (
      """WITH ex AS (
        |  SELECT doc_id, ('0x'||substr(md5(w),1,8))::BIGINT AS h
        |  FROM documents, unnest(string_split(text, ' ')) AS t(w)),
        |agg AS (
        |  SELECT doc_id,
        |""".stripMargin +
      (0 until 16).map(b => s"    sum(((h >> $b) & 1) * 2 - 1) AS s$b")
        .mkString(",\n") +
      """
        |  FROM ex GROUP BY doc_id)
        |SELECT doc_id,
        |""".stripMargin +
      (0 until 16).map(b => s"  (CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)")
        .mkString(" +\n") +
      """ AS simhash16
        |FROM agg""".stripMargin)),
    Query("x_simhash_pairs", xSimhashPairs, (
      """WITH ex AS (
        |  SELECT doc_id, ('0x'||substr(md5(w),1,8))::BIGINT AS h
        |  FROM documents, unnest(string_split(text, ' ')) AS t(w)),
        |agg AS (
        |  SELECT doc_id,
        |""".stripMargin +
      (0 until 32).map(b => s"    sum(((h >> $b) & 1) * 2 - 1) AS s$b")
        .mkString(",\n") +
      """
        |  FROM ex GROUP BY doc_id),
        |sig AS (SELECT doc_id,
        |""".stripMargin +
      (0 until 32).map(b => s"  (CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)")
        .mkString(" +\n") +
      """ AS sh FROM agg),
        |banded AS (SELECT doc_id, sh, band, (sh >> (band * 8)) & 255 AS key
        |           FROM sig, unnest(generate_series(0, 3)) AS t(band))
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
        |FROM banded a JOIN banded b
        |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3""".stripMargin), negativeControl = true),
    Query("x_video_dedup_pairs", xVideoDedupPairs, (
      """WITH fr AS (
        |  SELECT doc_id,
        |    xor(xor(('0x'||substr(md5('vfam:'||CAST(doc_id // 12 AS VARCHAR)),1,14))::BIGINT,
        |            (CAST(1 AS BIGINT) << CAST(doc_id % 56 AS INT))),
        |        (CAST(1 AS BIGINT) << CAST((doc_id * 31 + f) % 56 AS INT))) AS fhash
        |  FROM documents, unnest(generate_series(0, 4)) AS t(f)),
        |agg AS (
        |  SELECT doc_id, count(*) AS n,
        |""".stripMargin +
      (0 until 56).map(b => s"    sum((fhash >> $b) & 1) AS b$b").mkString(",\n") +
      """
        |  FROM fr GROUP BY doc_id),
        |sig AS (SELECT doc_id,
        |""".stripMargin +
      (0 until 56).map(b => s"  (CASE WHEN 2 * b$b > n THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)")
        .mkString(" |\n") +
      """ AS sh FROM agg),
        |banded AS (SELECT doc_id, sh, band, (sh >> (band * 14)) & 16383 AS key
        |           FROM sig, unnest(generate_series(0, 3)) AS t(band))
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
        |FROM banded a JOIN banded b
        |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3""".stripMargin)),
    Query("x_audio_dedup_pairs", xAudioDedupPairs, (
      """WITH tt AS (
        |  SELECT doc_id,
        |    xor(('0x'||substr(md5('aufam:'||CAST(doc_id // 12 AS VARCHAR)),1,14))::BIGINT,
        |        (CAST(1 AS BIGINT) << CAST(doc_id % 56 AS INT))) AS t
        |  FROM documents),
        |slots AS (
        |  SELECT doc_id, k,
        |    CAST(k AS BIGINT) - 2 * CAST(bit_count(t & ((CAST(1 AS BIGINT) << k) - 1)) AS BIGINT) AS e
        |  FROM tt, unnest(generate_series(0, 56)) AS u(k)),
        |agg AS (
        |  SELECT doc_id,
        |""".stripMargin +
      (0 to 56).map(k => s"    max(CASE WHEN k = $k THEN e END) AS e$k").mkString(",\n") +
      """
        |  FROM slots GROUP BY doc_id),
        |sig AS (SELECT doc_id,
        |""".stripMargin +
      (0 until 56).map(b =>
        s"  (CASE WHEN e$b > e${b + 1} THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)")
        .mkString(" |\n") +
      """ AS sh FROM agg),
        |banded AS (SELECT doc_id, sh, band, (sh >> (band * 14)) & 16383 AS key
        |           FROM sig, unnest(generate_series(0, 3)) AS t(band))
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
        |FROM banded a JOIN banded b
        |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3""".stripMargin)),
    Query("x_image_dedup_pairs", xImageDedupPairs,
      """WITH sig AS (
        |  SELECT doc_id,
        |    xor(('0x'||substr(md5('fam:'||CAST(doc_id // 12 AS VARCHAR)),1,14))::BIGINT,
        |        (CAST(1 AS BIGINT) << CAST(doc_id % 56 AS INT))) AS sh
        |  FROM documents),
        |banded AS (SELECT doc_id, sh, band, (sh >> (band * 14)) & 16383 AS key
        |           FROM sig, unnest(generate_series(0, 3)) AS t(band))
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
        |FROM banded a JOIN banded b
        |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3""".stripMargin),
    Query("x_simhash_pairs_sized", xSimhashPairsSized, (
      // the coalesce mirrors simhashWidthFor's clamp (w = 14 above
      // 64 << 14 ≈ 1.05M docs, where MIN(p) over range(8, 15) is NULL)
      // — same rendering as duckNearKeeper/duckNearIngest, so the three
      // sized-width oracles cannot silently diverge
      """WITH wv AS (
        |  SELECT coalesce(MIN(p), 14) AS w FROM range(8, 15) t(p)
        |  WHERE (SELECT count(*) FROM documents) <= (CAST(64 AS BIGINT) << p)),
        |ex AS (
        |  SELECT doc_id, ('0x'||substr(md5(w),1,14))::BIGINT AS h
        |  FROM documents, unnest(string_split(text, ' ')) AS t(w)),
        |agg AS (
        |  SELECT doc_id,
        |""".stripMargin +
      (0 until 56).map(b => s"    sum(((h >> $b) & 1) * 2 - 1) AS s$b")
        .mkString(",\n") +
      """
        |  FROM ex GROUP BY doc_id),
        |sig AS (SELECT doc_id,
        |""".stripMargin +
      (0 until 56).map(b =>
        s"  (CASE WHEN $b < 4 * (SELECT w FROM wv) AND s$b > 0 THEN ${1L << b} ELSE 0 END)")
        .mkString(" +\n") +
      """ AS sh FROM agg),
        |banded AS (SELECT doc_id, sh, band,
        |    (sh >> (band * (SELECT w FROM wv)))
        |      & ((CAST(1 AS BIGINT) << (SELECT w FROM wv)) - 1) AS key
        |  FROM sig, unnest(generate_series(0, 3)) AS t(band))
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
        |FROM banded a JOIN banded b
        |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3""".stripMargin)),
    Query("x_jaccard", xJaccard,
      """WITH g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(string_split(text, ' ')) >= 2 THEN
        |      list_distinct(list_transform(range(1, len(string_split(text, ' '))),
        |        i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]))
        |    ELSE [] END AS grams
        |  FROM documents WHERE doc_id < 100)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.grams, b.grams))), 4) AS jaccard
        |FROM g a JOIN g b ON a.doc_id < b.doc_id
        |WHERE round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.grams, b.grams))), 4) > 0.1""".stripMargin),
    Query("x_ann_cosine", xAnnCosine,
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT q.q_id, e.vec_id,
        |    list_sum(list_transform(range(1, 65),
        |      i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))) AS cos
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.q_id),
        |ranked AS (
        |  SELECT q_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT q_id, rank, vec_id AS neighbor, round(cos, 4) AS cos_sim
        |FROM ranked WHERE rank <= 5""".stripMargin),
    Query("x_ann_lsh", xAnnLsh, lshOracleSqlFor(lshPlanes, sized = false), negativeControl = true),
    Query("x_ann_lsh_sized", xAnnLshSized, lshOracleSqlFor(sizedPlanes, sized = true)),
    Query("x_ann_ivf", xAnnIvf, ivfOracleSql, negativeControl = true),
    Query("x_ann_ivf_hier", xAnnIvfHier, ivfHierOracleSql, negativeControl = true),
    Query("x_ann_ivf_hier_probe", xAnnIvfHierProbe, ivfHierProbeOracleSql),
    Query("x_ann_ivf_lloyd", xAnnIvfLloyd, ivfLloydProbeOracleSql),
    Query("x_ann_ivf_probe", xAnnIvfProbe, ivfProbeOracleSql),
    Query("x_ann_ivfpq", xAnnIvfPq, ivfPqOracleSql),
    Query("x_ann_ivfpq_rerank", xAnnIvfPqRerank, ivfPqOracleSqlFor(nprobe = 8, residual = false, rerank = 20)),
    Query("x_ann_ivfpq_res", xAnnIvfPqRes, ivfPqOracleSqlFor(nprobe = 3, residual = true, rerank = 0)),
    Query("x_ann_pq", xAnnPq, pqOracleSql),
    Query("x_ann_pq256", xAnnPq256, pqLloydOracleSqlFor(ksub = 256, sampleN = 8192)),
    Query("x_ann_pq_lloyd", xAnnPqLloyd, pqLloydOracleSql),
    Query("x_dedup_embedding", xDedupEmbedding, dedupEmbeddingOracleSqlFor(lshPlanes, sized = false)),
    Query("x_dedup_embedding_sized", xDedupEmbeddingSized, dedupEmbeddingOracleSqlFor(sizedPlanes, sized = true)),
    Query("x_semdedup", xSemDedup, semDedupOracleSql),
    Query("x_semdedup_text", xSemDedupText, semDedupTextOracleSql),
    Query("w3_sliding", w3Sliding,
      """WITH base AS (
        |  SELECT event_type, epoch_ms(ts) - (epoch_ms(ts) % 3600000) AS hour0 FROM events),
        |expanded AS (
        |  SELECT event_type, hour0 AS win_start FROM base
        |  UNION ALL
        |  SELECT event_type, hour0 - 3600000 AS win_start FROM base)
        |SELECT event_type, win_start, count(*) AS n
        |FROM expanded GROUP BY 1, 2""".stripMargin),
    Query("x_lang_id", xLangId,
      """SELECT doc_id, lang,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_filter(string_split(text, ' '),
        |    t -> t IN ('the','a','and','of','to','in','is','on'))) AS stopword_hits,
        |  round(CAST(len(list_filter(string_split(text, ' '),
        |    t -> t IN ('the','a','and','of','to','in','is','on'))) AS DOUBLE) /
        |    len(string_split(text, ' ')), 4) AS stopword_ratio,
        |  CASE WHEN CAST(len(list_filter(string_split(text, ' '),
        |    t -> t IN ('the','a','and','of','to','in','is','on'))) AS DOUBLE) /
        |    len(string_split(text, ' ')) > 0.05 THEN 'en' ELSE 'other' END AS predicted
        |FROM documents""".stripMargin),
    // The relational rendering of the hashed-ngram scorer: explode every
    // token and bigram, re-derive bucket weights from the shared integer
    // rule, aggregate. Exactly the scale-hostile shape the native
    // expression replaces — fine at oracle scale, the measured loser at
    // sf1+ (SCALING.md).
    Query("x_quality_trained", xQualityTrained, qualityTrainedOracleSql),
    Query("x_text_embed", xTextEmbed,
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \n\t\r]+'), t -> t != '') AS ts
        |  FROM documents WHERE regexp_matches(text, '[^ \n\t\r]')),
        |feats AS (
        |  SELECT doc_id,
        |    unnest(ts || list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS f
        |  FROM toks),
        |hf AS (SELECT doc_id, ('0x'||substr(md5(f),1,8))::BIGINT AS h FROM feats),
        |agg AS (
        |  SELECT doc_id, h % 64 AS j,
        |    sum(CASE WHEN h >= 2147483648 THEN -1.0 ELSE 1.0 END) AS v
        |  FROM hf GROUP BY 1, 2),
        |nrm AS (SELECT doc_id, sqrt(sum(v*v)) AS n FROM agg GROUP BY 1),
        |grid AS (SELECT t.doc_id, r.j FROM toks t CROSS JOIN range(0, 64) r(j)),
        |vec AS (
        |  SELECT g.doc_id, g.j, coalesce(a.v, 0.0) AS v
        |  FROM grid g LEFT JOIN agg a ON g.doc_id = a.doc_id AND g.j = a.j)
        |SELECT v.doc_id,
        |  string_agg(
        |    printf('%.4f', round(CASE WHEN n.n > 0 THEN v.v / n.n ELSE 0.0 END, 4) + 0.0),
        |    ',' ORDER BY v.j) AS emb_csv
        |FROM vec v JOIN nrm n USING (doc_id) GROUP BY v.doc_id""".stripMargin),
    Query("x_dsir_select", xDsirSelect,
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \n\t\r]+'), t -> t != '') AS ts
        |  FROM documents),
        |feats AS (
        |  SELECT t.doc_id, d.lang,
        |    unnest(ts || list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS f
        |  FROM toks t JOIN documents d USING (doc_id)),
        |bf AS (
        |  SELECT doc_id, lang, ('0x'||substr(md5(f),1,8))::BIGINT % 1024 AS b FROM feats),
        |bcnt AS (
        |  SELECT b, count(*) FILTER (WHERE lang = 'en') AS ct, count(*) AS cr
        |  FROM bf GROUP BY b),
        |tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM bcnt),
        |lam AS (
        |  SELECT b, ln((ct + 0.01) / (nt + 0.01*1024)) - ln((cr + 0.01) / (nr + 0.01*1024)) AS l
        |  FROM bcnt CROSS JOIN tot),
        |scored AS (
        |  SELECT doc_id, count(*) AS nf, sum(l) AS s FROM bf JOIN lam USING (b) GROUP BY doc_id)
        |SELECT t.doc_id, CAST(coalesce(sc.nf, 0) AS INT) AS n_features,
        |  round(coalesce(sc.s, 0.0), 4) AS logw
        |FROM toks t LEFT JOIN scored sc USING (doc_id)
        |ORDER BY logw DESC, t.doc_id LIMIT 200""".stripMargin),
    Query("x_ppl_buckets", xPplBuckets,
      """WITH w0 AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> w != '') AS ws FROM documents),
        |uni AS (SELECT w, count(*) AS c1 FROM (SELECT unnest(ws) AS w FROM w0) GROUP BY 1),
        |t AS (SELECT count(*) AS vsz FROM uni),
        |bg AS (SELECT doc_id, unnest(ws[1:len(ws)-1]) AS w1, unnest(ws[2:len(ws)]) AS w2
        |       FROM w0 WHERE len(ws) >= 2),
        |bc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
        |lm AS (SELECT doc_id,
        |         round(avg(log10((c12 + 1)::DOUBLE / (c1 + vsz))), 4) AS avg_logprob,
        |         count(*) AS n_bigrams
        |       FROM bg JOIN bc USING (w1, w2) JOIN uni ON bg.w1 = uni.w CROSS JOIN t
        |       GROUP BY 1)
        |SELECT doc_id, lang, avg_logprob, n_bigrams, bucket,
        |  CASE WHEN bucket = 1 THEN 'head' WHEN bucket = 3 THEN 'tail'
        |       ELSE 'middle' END AS tier
        |FROM (SELECT d.doc_id AS doc_id, d.lang AS lang, lm.avg_logprob, lm.n_bigrams,
        |        ntile(3) OVER (PARTITION BY d.lang
        |                       ORDER BY lm.avg_logprob DESC, d.doc_id) AS bucket
        |      FROM lm JOIN documents d USING (doc_id))""".stripMargin),
    Query("x_quality_learned", xQualityLearned,
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \n\t\r]+'), t -> t != '') AS ts
        |  FROM documents),
        |feats AS (
        |  SELECT doc_id,
        |    unnest(ts || list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS f
        |  FROM toks),
        |scored AS (
        |  SELECT doc_id, count(*) AS nf,
        |    sum((((('0x'||substr(md5(f),1,8))::BIGINT % 1024 + 1) * 2654435761) % 2000003)
        |        / 2000003.0 - 0.5) AS s
        |  FROM feats GROUP BY doc_id)
        |SELECT t.doc_id, CAST(coalesce(sc.nf, 0) AS INT) AS n_features,
        |  round(1.0 / (1.0 + exp(-(0.1 + coalesce(sc.s / sc.nf, 0.0)))), 4) AS q_learned
        |FROM toks t LEFT JOIN scored sc USING (doc_id)""".stripMargin),
    Query("x_quality", xQuality,
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS n_punct,
        |  round(CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE) /
        |    len(string_split(text, ' ')), 4) AS mean_word_len,
        |  round(least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0, 1.0) *
        |    (1.0 - CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE) / length(text)), 4) AS quality
        |FROM documents""".stripMargin),
    Query("x_token_count", xTokenCount,
      """SELECT doc_id,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_ish_tokens
        |FROM documents""".stripMargin),
    Query("x_fingerprint", xFingerprint,
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_fp,
        |  md5(list_aggregate(list_sort(string_split(text, ' ')), 'string_agg', ' ')) AS bag_fp
        |FROM documents""".stripMargin),
    Query("x_asof_join", xAsofJoin,
      """SELECT event_id, user_id, ts_ms, last_click_id, last_click_ms FROM (
        |  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms,
        |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_id,
        |    last_value(CASE WHEN event_type = 'click' THEN epoch_ms(ts) END IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_ms
        |  FROM events)
        |WHERE event_type = 'purchase'""".stripMargin),
    Query("x_range_join", xRangeJoin,
      """SELECT s.event_id AS signup_id, s.user_id AS user_id,
        |  count(*) AS n_clicks, min(c.event_id) AS first_click_id
        |FROM events s JOIN events c
        |  ON c.user_id = s.user_id
        | AND s.event_type = 'signup' AND c.event_type = 'click'
        | AND epoch_ms(c.ts) > epoch_ms(s.ts)
        | AND epoch_ms(c.ts) <= epoch_ms(s.ts) + 3600000
        |GROUP BY 1, 2""".stripMargin),
    Query("x_salted_agg", xSaltedAgg,
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum
        |FROM events GROUP BY 1""".stripMargin))
}
