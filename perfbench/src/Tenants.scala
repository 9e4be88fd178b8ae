package graft.perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.config.{TableSpec, TenantConfig}
import graft.pipeline.{Environment, TenantPipeline, TenantRegistry}
import graft.source.Source
import graft.store.Warehouse

/** The tenant workspace both ELT workloads run: 4 tenants holding
  * 40/30/20/10 % of the customers (a seed-salted hash split), each with 3
  * raw tables, 3 staging models and 2 marts.
  */
object TenantSpace {
  val Codes: Seq[String] = Seq("t1", "t2", "t3", "t4")
  def id(code: String): String = s"bench_$code"

  /** Batches of `tenant_incremental`: the base is the first 70 % of orders
    * by key, then 6 batches of 5 %.
    */
  val Batches = 6

  def split(seed: Long): Column = {
    val h = pmod(xxhash64(lit(seed), col("c_custkey")), lit(100))
    when(h < 40, "t1").when(h < 70, "t2").when(h < 90, "t3").otherwise("t4")
  }

  val CustomerCols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal",
    "c_mktsegment")
  val OrderCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")
  val LineCols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate")

  /** Raw customer columns; the incremental workspace versions each row. */
  def customerCols(incremental: Boolean): Seq[String] =
    CustomerCols ++ (if (incremental) Seq("c_version") else Nil) :+ "tenant_code"

  /** Writes customer, orders and lineitem with their `tenant_code` (an
    * order and its lines belong to the order's customer). For the
    * incremental workspace every order and line also carries its `batch`
    * (0 = base), and `customer_updates` holds the ~1 % customer changes of
    * each batch with `c_version` = batch.
    */
  def writeInputs(spark: SparkSession, data: String, out: Path, seed: Long,
                  incremental: Boolean): Unit = {
    def save(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.parquet(out.resolve(s"$name.parquet").toString)
    val cust = spark.read.parquet(s"$data/customer.parquet")
      .withColumn("c_version", lit(0))
      .withColumn("tenant_code", split(seed))
      .select(customerCols(incremental).map(col): _*)
    val ordersIn = spark.read.parquet(s"$data/orders.parquet")
    val orderTenantBatched = ordersIn.select("o_orderkey")
      .withColumn("pct", ntile(100).over(Window.orderBy("o_orderkey")))
      .join(ordersIn.select("o_orderkey", "o_custkey")
        .join(cust.select(col("c_custkey").as("o_custkey"), col("tenant_code")),
          Seq("o_custkey")), Seq("o_orderkey"))
      .withColumn("batch",
        when(col("pct") <= 70, 0).otherwise(ceil((col("pct") - 70) / 5).cast("int")))
      .select("o_orderkey", "tenant_code", "batch")
    val extra = if (incremental) Seq("tenant_code", "batch") else Seq("tenant_code")
    save(cust, "customer")
    save(ordersIn.join(orderTenantBatched, Seq("o_orderkey"))
      .select((OrderCols ++ extra).map(col): _*), "orders")
    save(spark.read.parquet(s"$data/lineitem.parquet")
      .join(orderTenantBatched.withColumnRenamed("o_orderkey", "l_orderkey"),
        Seq("l_orderkey"))
      .select((LineCols ++ extra).map(col): _*), "lineitem")
    if (incremental) {
      val updates = (1 to Batches).map { k =>
        cust.filter(pmod(xxhash64(lit(seed), lit(k), col("c_custkey")), lit(100)) === 0)
          .withColumn("c_acctbal", round(col("c_acctbal") +
            (pmod(xxhash64(lit(seed + 1), lit(k), col("c_custkey")), lit(2001)) - 1000) / 10.0, 2))
          .withColumn("c_version", lit(k))
          .withColumn("batch", lit(k))
      }.reduce(_ unionByName _)
      save(updates, "customer_updates")
    }
  }

  private def table(name: String, key: Seq[String], cols: Seq[String],
                    incremental: Option[String]): String = {
    val mode = incremental.fold("full")(_ => "append")
    s"""  - name: $name
       |    source_table: $name
       |    primary_key: [${key.mkString(", ")}]
       |    columns: [${cols.mkString(", ")}]
       |    tenant_filter: tenant_code
       |${incremental.fold("")(c => s"    incremental_column: $c\n")}    mode: $mode
       |""".stripMargin
  }

  def tenantYaml(code: String, incremental: Boolean): String = {
    def inc(c: String) = if (incremental) Some(c) else None
    s"""tenant:
       |  id: ${id(code)}
       |  name: "benchmark tenant $code"
       |  source:
       |    type: parquet
       |  params:
       |    tenant_code: "$code"
       |tables:
       |""".stripMargin +
      table("customer", Seq("c_custkey"), customerCols(incremental), inc("c_custkey")) +
      table("orders", Seq("o_orderkey"), OrderCols :+ "tenant_code", inc("o_orderkey")) +
      table("lineitem", Seq("l_orderkey", "l_linenumber"), LineCols :+ "tenant_code",
        inc("l_orderkey"))
  }

  /** Model bodies; `@src(t)` is a raw table and `@ref(m)` another model. */
  val Staging: Seq[(String, String)] = Seq(
    "stg_customer" ->
      """SELECT c_custkey, c_name, c_nationkey,
        |       CAST(c_acctbal AS DECIMAL(12,2)) AS acctbal, c_mktsegment
        |FROM @src(customer)""".stripMargin,
    "stg_orders" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |       CAST(o_totalprice AS DECIMAL(12,2)) AS totalprice,
        |       CAST(o_orderdate AS DATE) AS orderdate
        |FROM @src(orders)""".stripMargin,
    "stg_lineitem" ->
      """SELECT l_orderkey, l_linenumber, CAST(l_quantity AS DECIMAL(12,2)) AS qty,
        |       CAST(l_extendedprice AS DECIMAL(12,2)) AS price,
        |       CAST(l_discount AS DECIMAL(4,2)) AS disc, l_returnflag
        |FROM @src(lineitem)""".stripMargin)

  /** The marts, with the key that places each row in one tenant. */
  val Marts: Seq[(String, String, String)] = Seq(
    ("mart_order_lines", "o_orderkey",
      """SELECT o.o_orderkey, o.o_custkey, o.orderdate, COUNT(*) AS n_lines,
        |       SUM(l.qty) AS qty, SUM(l.price * (1 - l.disc)) AS revenue,
        |       SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS n_returned
        |FROM @ref(stg_orders) o JOIN @ref(stg_lineitem) l ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderkey, o.o_custkey, o.orderdate""".stripMargin),
    ("mart_customer", "c_custkey",
      """SELECT c.c_custkey, c.c_name, c.c_mktsegment, c.acctbal,
        |       COUNT(o.o_orderkey) AS n_orders,
        |       COALESCE(SUM(o.totalprice), 0) AS total_spent
        |FROM @ref(stg_customer) c LEFT JOIN @ref(stg_orders) o ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_custkey, c.c_name, c.c_mktsegment, c.acctbal""".stripMargin))

  private val SrcRe = """@src\((\w+)\)""".r
  private val RefRe = """@ref\((\w+)\)""".r

  def fill(body: String, src: String => String, ref: String => String): String =
    RefRe.replaceAllIn(SrcRe.replaceAllIn(body,
      m => java.util.regex.Matcher.quoteReplacement(src(m.group(1)))),
      m => java.util.regex.Matcher.quoteReplacement(ref(m.group(1))))

  /** One directory per tenant: `tenant.yaml` plus dbt-dialect models. */
  def writeWorkspace(root: Path, incremental: Boolean): Unit =
    Codes.foreach { code =>
      val tid = id(code)
      val dir = Files.createDirectories(root.resolve(tid))
      Files.writeString(dir.resolve("tenant.yaml"), tenantYaml(code, incremental))
      val models = Files.createDirectories(dir.resolve("models"))
      (Staging ++ Marts.map(m => m._1 -> m._3)).foreach { case (name, body) =>
        val sql = fill(body, t => s"{{ source('${tid}_raw', '$t') }}",
          m => s"{{ ref('${tid}__$m') }}")
        Files.writeString(models.resolve(s"${tid}__$name.sql"),
          s"{{ config(materialized='table', schema=var('tenant_id', '$tid'), " +
            s"alias='$name') }}\n$sql\n")
      }
    }

  /** Reference marts by plain Spark SQL over the given input frames,
    * bypassing extract, store and render: each mart is computed once over
    * all tenants and split by the tenant its key belongs to (a customer,
    * its orders and their lines share one tenant). Returns digests keyed
    * `<tenant code>/<mart>`.
    */
  def referenceDigests(spark: SparkSession, customer: DataFrame,
                       orders: DataFrame, lineitem: DataFrame): Map[String, Digest] = {
    val views = Map("customer" -> customer, "orders" -> orders, "lineitem" -> lineitem)
    views.foreach { case (n, df) => df.createOrReplaceTempView(s"perfbench_ref_$n") }
    val staging = Staging.toMap
    val tenantOf = Map(
      "o_orderkey" -> orders.select("o_orderkey", "tenant_code"),
      "c_custkey" -> customer.select("c_custkey", "tenant_code"))
    Marts.flatMap { case (mart, key, body) =>
      val rows = spark.sql(fill(body, t => s"perfbench_ref_$t",
        m => "(" + fill(staging(m), t => s"perfbench_ref_$t", identity) + ")"))
      Digest.byKey(rows.join(tenantOf(key), Seq(key))
        .select((rows.columns.toSeq :+ "tenant_code").map(col): _*), "tenant_code")
        .map { case (code, d) => s"$code/$mart" -> d }
    }.toMap
  }

  /** Digests of the engine's marts, one pass per mart over all tenants. */
  def martDigests(spark: SparkSession): Map[String, Digest] =
    Marts.flatMap { case (mart, _, _) =>
      Digest.byKey(Codes.map(c =>
        spark.table(s"`${id(c)}`.`$mart`").withColumn("__tenant", lit(c)))
        .reduce(_ unionByName _), "__tenant")
        .map { case (code, d) => s"$code/$mart" -> d }
    }.toMap

  /** Tenants whose marts differ from the reference (a missing mart counts). */
  def mismatched(got: Map[String, Digest], want: Map[String, Digest]): Set[String] =
    Codes.filter(c => Marts.exists { case (m, _, _) =>
      got.get(s"$c/$m").isEmpty || got.get(s"$c/$m") != want.get(s"$c/$m")
    }).toSet

  def dropAll(spark: SparkSession): Unit = {
    Codes.foreach { c =>
      spark.sql(s"DROP DATABASE IF EXISTS `${id(c)}` CASCADE")
      spark.sql(s"DROP DATABASE IF EXISTS `${id(c)}_raw` CASCADE")
    }
    spark.catalog.clearCache()
  }

  /** Raw-table files across all tenants (the store's file accumulation). */
  def rawFiles(spark: SparkSession, specs: Seq[TableSpec]): Int =
    Codes.flatMap(c => specs.map(s => Warehouse.fileCount(spark, s"${id(c)}_raw", s.name))).sum
}

/** A parquet source that tags the scanning thread with its tenant, so the
  * meter can tell which tenant each Spark job belongs to; `upTo` limits
  * batched tables to the source snapshot after that batch.
  */
final class TenantSource(dir: String, tenantId: String, upTo: () => Option[Int])
    extends Source {
  override def scan(spark: SparkSession, spec: TableSpec): DataFrame = {
    spark.sparkContext.setLocalProperty(Tags.UnitId, tenantId)
    val df = spark.read.parquet(s"$dir/${spec.sourceTable}.parquet")
    upTo().filter(_ => df.columns.contains("batch"))
      .fold(df)(k => df.filter(col("batch") <= k))
  }
  override def probe(spark: SparkSession): Boolean = new java.io.File(dir).isDirectory
}

/** `tenant_fresh`: every iteration runs all 4 tenants from empty databases
  * through `TenantRegistry.runAll(parallelism = 4)`: bulk extract, raw
  * CTAS, then the model DAG. A unit is one tenant, from the start of the
  * run to its last Spark job.
  */
final class TenantFresh(c: Ctx) extends Workload(c) {
  private val inputs = ctx.work.resolve("inputs")
  private val root = ctx.work.resolve("workspace")
  private var reference = Map.empty[String, Digest]
  private var lastPipelines = Seq.empty[(TenantConfig, TenantPipeline, Map[String, Long])]

  def inputFiles: Seq[Path] = Seq("customer", "orders", "lineitem")
    .map(t => inputs.resolve(s"$t.parquet"))

  private def source(t: TenantConfig): Source =
    new TenantSource(inputs.toString, t.id, () => None)

  def generate(): Unit = {
    TenantSpace.writeInputs(spark, ctx.opts.data, inputs, ctx.opts.seed, incremental = false)
    TenantSpace.writeWorkspace(root, incremental = false)
    def in(t: String) = spark.read.parquet(inputs.resolve(s"$t.parquet").toString)
    reference = TenantSpace.referenceDigests(spark, in("customer"), in("orders"), in("lineitem"))
    if (ctx.opts.plant)
      reference = reference.updated("t1/mart_customer",
        Digest.planted(reference("t1/mart_customer")))
  }

  override def prepare(): Unit = TenantSpace.dropAll(spark)

  def iteration(): Iter = {
    ctx.meter.takeUnitEnds()
    val t0 = System.nanoTime()
    val t0Ms = System.currentTimeMillis()
    if (ctx.tracing) {
      val (units, errors) = tracedRun()
      check(Harness.seconds(t0), units, errors, t0Ms)
    } else {
      val ok = scala.util.Try(TenantRegistry.runAll(spark, root.toString, source,
        env = Map.empty, parallelism = 4, environment = Environment.Prod))
      val wall = Harness.seconds(t0)
      // a tenant's latency runs to the end of its last Spark job
      ctx.meter.sync(spark)
      val ends = ctx.meter.takeUnitEnds()
      val t1Ms = t0Ms + (wall * 1000).toLong
      val units = TenantSpace.Codes.map(c =>
        (ends.getOrElse(TenantSpace.id(c), t1Ms) - t0Ms) / 1e3)
      check(wall, units, if (ok.isFailure) TenantSpace.Codes.toSet else Set.empty, t0Ms)
    }
  }

  private def check(wall: Double, units: Seq[Double], errors: Set[String],
                    t0Ms: Long): Iter = {
    val t1Ms = t0Ms + (wall * 1000).toLong
    val bad = errors ++ scala.util.Try(Tags.untraced(spark)(
      TenantSpace.mismatched(TenantSpace.martDigests(spark), reference)))
      .getOrElse(TenantSpace.Codes.toSet)
    Iter(wall, units, bad.size, t0Ms, t1Ms)
  }

  /** The traced form of `runAll`: the same discover → check → pipelines
    * → one thread per tenant, with each layer call timed on its own.
    */
  private def tracedRun(): (Seq[Double], Set[String]) = {
    val (found, tDiscover) = ctx.span("config.discover")(
      TenantRegistry.discover(root.toString, Map.empty))
    val (drift, tCheck) = ctx.span("pipeline.check")(TenantRegistry.check(found))
    require(drift.isEmpty, s"tenant workspace drift: $drift")
    ctx.addLayer("config.discover_s", tDiscover)
    ctx.addLayer("pipeline.check_s", tCheck)
    val pipes = TenantRegistry.pipelines(found, source, Environment.Prod)
    val runs = Harness.parallel(pipes, 4) { case (t, p) =>
      val (e, te) = ctx.span(s"pipeline.extract:${t.id}")(p.runExtract(spark))
      val (m, tm) = ctx.span(s"pipeline.models:${t.id}")(p.runModels(spark))
      ctx.addLayer("pipeline.extract_s", te); ctx.maxLayer("pipeline.extract_max_s", te)
      ctx.addLayer("pipeline.models_s", tm); ctx.maxLayer("pipeline.models_max_s", tm)
      e ++ m
    }
    lastPipelines = runs.collect { case ((t, p), scala.util.Success(n), _) => (t, p, n) }
    (runs.map(_._3), runs.collect { case ((t, _), scala.util.Failure(_), _) =>
      t.id.stripPrefix("bench_") }.toSet)
  }

  override def afterTraced(): Unit = {
    val (_, tMeta) = ctx.span("pipeline.metadata")(lastPipelines.foreach {
      case (_, p, n) => p.metadata(spark, knownCounts = n) })
    val (_, tRender) = ctx.span("model.render")(lastPipelines.foreach {
      case (_, p, _) => p.renderAll })
    ctx.addLayer("pipeline.metadata_s", tMeta)
    ctx.addLayer("model.render_s", tRender)
    lastPipelines.headOption.foreach { case (t, _, _) =>
      ctx.addLayer("store.raw_files", TenantSpace.rawFiles(spark, t.tables)) }
  }
}

/** `tenant_incremental`: the same tenants with append-mode tables. The
  * base (70 % of orders) loads untimed, then come 6 batches: the source
  * grows by 5 %, `runExtract` appends through the watermark,
  * `Warehouse.mergeUpsert` applies the batch's customer updates, and
  * `runModels` refreshes the marts. The measured iteration is always batch
  * 6, the one with the most accumulated raw files; batches 1–5 land
  * untimed before it (in the warm-up, and again from a fresh base before
  * any later iteration). A unit is one tenant-batch, from landing to fresh
  * marts.
  */
final class TenantIncremental(c: Ctx) extends Workload(c) {
  private val inputs = ctx.work.resolve("inputs")
  private val root = ctx.work.resolve("workspace")
  /** The source snapshot the tenants see; None before the base loads. */
  @volatile private var batch: Option[Int] = None
  private var pipes = Seq.empty[(TenantConfig, TenantPipeline)]

  def inputFiles: Seq[Path] = Seq("customer", "orders", "lineitem", "customer_updates")
    .map(t => inputs.resolve(s"$t.parquet"))

  private def in(t: String): DataFrame =
    spark.read.parquet(inputs.resolve(s"$t.parquet").toString)

  def generate(): Unit = {
    TenantSpace.writeInputs(spark, ctx.opts.data, inputs, ctx.opts.seed, incremental = true)
    TenantSpace.writeWorkspace(root, incremental = true)
    val found = TenantRegistry.discover(root.toString, Map.empty)
    require(TenantRegistry.check(found).isEmpty, "tenant workspace drift")
    pipes = TenantRegistry.pipelines(found,
      t => new TenantSource(inputs.toString, t.id, () => batch), Environment.Prod)
  }

  /** Empty databases, the base snapshot through every layer, then batches
    * 1 to `k`, all untimed.
    */
  private def replayTo(k: Int): Unit = {
    TenantSpace.dropAll(spark)
    batch = Some(0)
    Harness.parallel(pipes, 4) { case (_, p) => p.runExtract(spark); p.runModels(spark) }
      .foreach(_._2.get)
    (1 to k).foreach { b =>
      batch = Some(b)
      runBatch(b, models = b == k).foreach(_._2.get)
    }
  }

  /** Lands batch `k` for every tenant: append, merge and, with `models`,
    * the model refresh. Every refresh rebuilds the staging tables and marts
    * whole, so a replay refreshes them only after its last batch.
    */
  private def runBatch(k: Int, models: Boolean = true)
      : Seq[((TenantConfig, TenantPipeline), scala.util.Try[Unit], Double)] = {
    val cols = TenantSpace.customerCols(incremental = true)
    val updates = in("customer_updates").filter(col("batch") === k)
    Harness.parallel(pipes, 4) { case (t, p) =>
      val code = t.params("tenant_code")
      val (_, te) = ctx.span(s"pipeline.extract:${t.id}")(p.runExtract(spark))
      val (_, tm) = ctx.span(s"store.merge:${t.id}")(Warehouse.mergeUpsert(spark,
        updates.filter(col("tenant_code") === code).select(cols.map(col): _*),
        t.rawDatabase, "customer", Seq("c_custkey"), "c_version"))
      val (_, tr) =
        if (models) ctx.span(s"pipeline.models:${t.id}")(p.runModels(spark))
        else (Map.empty[String, Long], 0.0)
      if (ctx.tracing) {
        ctx.addLayer("pipeline.extract_s", te); ctx.maxLayer("pipeline.extract_max_s", te)
        ctx.addLayer("store.merge_s", tm)
        ctx.addLayer("pipeline.models_s", tr); ctx.maxLayer("pipeline.models_max_s", tr)
      }
    }
  }

  /** Reference marts after the last batch. */
  private lazy val reference: Map[String, Digest] = {
    val k = TenantSpace.Batches
    val cols = TenantSpace.customerCols(incremental = true)
    val latest = in("customer").select(cols.map(col): _*)
      .unionByName(in("customer_updates").filter(col("batch") <= k)
        .select(cols.map(col): _*))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("c_custkey").orderBy(col("c_version").desc)))
      .filter(col("__rn") === 1).drop("__rn")
    val ref = TenantSpace.referenceDigests(spark, latest,
      in("orders").filter(col("batch") <= k), in("lineitem").filter(col("batch") <= k))
    if (ctx.opts.plant)
      ref.updated("t1/mart_customer", Digest.planted(ref("t1/mart_customer")))
    else ref
  }

  override def warmUp(): Unit = replayTo(TenantSpace.Batches - 1)

  override def prepare(): Unit = {
    if (!batch.contains(TenantSpace.Batches - 1)) replayTo(TenantSpace.Batches - 1)
    batch = Some(TenantSpace.Batches)
    val _ = reference
  }

  def iteration(): Iter = {
    val t0 = System.nanoTime()
    val t0Ms = System.currentTimeMillis()
    val runs = runBatch(batch.get)
    val wall = Harness.seconds(t0)
    val failedRuns = runs.collect { case ((t, _), scala.util.Failure(_), _) =>
      t.params("tenant_code") }.toSet
    val bad = failedRuns ++ scala.util.Try(Tags.untraced(spark)(
      TenantSpace.mismatched(TenantSpace.martDigests(spark), reference)))
      .getOrElse(TenantSpace.Codes.toSet)
    Iter(wall, runs.map(_._3), bad.size, t0Ms, t0Ms + (wall * 1000).toLong)
  }

  override def afterTraced(): Unit = {
    val (_, tMeta) = ctx.span("pipeline.metadata")(pipes.foreach(_._2.metadata(spark)))
    ctx.addLayer("pipeline.metadata_s", tMeta)
    pipes.headOption.foreach { case (t, _) =>
      ctx.addLayer("store.raw_files", TenantSpace.rawFiles(spark, t.tables)) }
  }
}
