package graft.perfbench

import java.nio.file.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.CorpusPipeline
import graft.store.Warehouse

/** Expected digests committed next to the benchmark (`expected.json`):
  * query outputs that pass the DuckDB differential, and the corpus
  * pipeline's stage tables and export.
  */
object Expected {
  def load(path: String): Map[String, Map[String, Digest]] = {
    val text = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    val Section = "\"(\\w+)\"\\s*:\\s*\\{([^{}]*)\\}".r
    val Entry = "\"([\\w.]+)\"\\s*:\\s*\"([^\"]+)\"".r
    Section.findAllMatchIn(text).map { s =>
      s.group(1) -> Entry.findAllMatchIn(s.group(2))
        .map(e => e.group(1) -> Digest.parse(e.group(2))).toMap
    }.toMap
  }

  def render(sections: Seq[(String, Seq[(String, Digest)])]): String =
    sections.map { case (name, entries) =>
      s"""  "$name": {\n""" + entries.map { case (k, d) => s"""    "$k": "$d"""" }
        .mkString(",\n") + "\n  }"
    }.mkString("{\n", ",\n", "\n}\n")
}

/** `corpus_fresh`: `CorpusPipeline.run(resume = false)` into an empty
  * database (clean → band dedup → decontaminate → mix → pack), then
  * `exportJsonl`. The input is the documents table in a seed-permuted row
  * order split over 4 files; the outputs must not depend on that order.
  * A unit is one iteration.
  */
final class CorpusFresh(c: Ctx) extends Workload(c) {
  val Db = "perfbench_corpus"
  private val inputs = ctx.work.resolve("corpus_in")
  private val export = ctx.work.resolve("corpus_export")
  private lazy val expected = {
    val e = Expected.load(ctx.opts.expected)("corpus_fresh")
    if (ctx.opts.plant) e.updated("s1_clean", Digest.planted(e("s1_clean"))) else e
  }

  def inputFiles: Seq[Path] = Seq(inputs.resolve("documents.parquet"))

  def generate(): Unit = {
    spark.read.parquet(s"${ctx.opts.data}/documents.parquet")
      .repartition(4, xxhash64(lit(ctx.opts.seed), col("doc_id")))
      .sortWithinPartitions(xxhash64(lit(ctx.opts.seed + 1), col("doc_id")))
      .write.parquet(inputFiles.head.toString)
  }

  override def prepare(): Unit = {
    spark.sql(s"DROP DATABASE IF EXISTS `$Db` CASCADE")
    spark.catalog.clearCache()
  }

  /** The timed work: a fresh run, then the export. */
  def runPipeline(): scala.util.Try[Seq[CorpusPipeline.StageResult]] = scala.util.Try {
    val (stages, tRun) = ctx.span("pipeline.corpus_run")(
      CorpusPipeline.run(spark, inputs.toString, resume = false, db = Db))
    val (_, tExport) = ctx.span("pipeline.corpus_export")(
      CorpusPipeline.exportJsonl(spark, export.toString, db = Db))
    if (ctx.tracing) {
      ctx.addLayer("pipeline.corpus_run_s", tRun)
      ctx.addLayer("pipeline.corpus_export_s", tExport)
    }
    stages
  }

  def iteration(): Iter = {
    val t0 = System.nanoTime()
    val t0Ms = System.currentTimeMillis()
    val run = runPipeline()
    val wall = Harness.seconds(t0)
    val ok = run.toOption.exists(r => r.size == 5 && r.forall(!_.skipped)) &&
      scala.util.Try(Tags.untraced(spark)(check())).getOrElse(false)
    Iter(wall, Seq(wall), if (ok) 0 else 1, t0Ms, t0Ms + (wall * 1000).toLong)
  }

  /** Every stage is fresh by the pipeline's own lineage report, and every
    * stage table and the export match their committed digests.
    */
  private def check(): Boolean = {
    val report = CorpusPipeline.report(spark, inputs.toString, Db).collect()
    report.length == 5 && report.forall(_.getAs[Boolean]("fresh")) &&
      digests().forall { case (k, d) => expected.get(k).contains(d) }
  }

  /** Stage tables plus the JSONL export, columns in name order. */
  def digests(): Seq[(String, Digest)] = {
    def sorted(df: DataFrame) = df.select(df.columns.sorted.map(c => col(s"`$c`")): _*)
    CorpusPipeline.Stages.map(s => s -> Digest.of(sorted(spark.table(s"`$Db`.`$s`")))) :+
      ("export" -> Digest.of(sorted(spark.read.json(export.toString))))
  }

  override def afterTraced(): Unit = {
    val (r, t) = ctx.span("pipeline.corpus_resume")(
      CorpusPipeline.run(spark, inputs.toString, resume = true, db = Db))
    require(r.forall(_.skipped), "a resume over a fresh run recomputed a stage")
    ctx.addLayer("pipeline.corpus_resume_s", t)
  }
}

/** `query_mix`: one pass over 9 registry queries in name order, run the
  * way the registry bench runs them (non-durable oracle inputs, plan cache
  * and cached frames released between passes). A unit is one query, from
  * its call until its result is stored as a table through
  * `Warehouse.saveModel`; the stored results are checked after the pass.
  * The order is fixed: the plan cache carries frames from query to query
  * within a pass, so a query's latency depends on its place in the pass,
  * and a seed-chosen order moved the per-query figures from seed to seed.
  * The inputs are the fixture tables, so the seed changes nothing here.
  */
final class QueryMix(c: Ctx) extends Workload(c) {
  private val order = QueryMix.Queries.sorted
  private val registry = graft.SparkEntry.queries
  private lazy val expected = {
    val e = Expected.load(ctx.opts.expected)("query_mix")
    if (ctx.opts.plant) e.updated(order.head, Digest.planted(e(order.head))) else e
  }

  def inputFiles: Seq[Path] = QueryMix.Tables
    .map(t => java.nio.file.Paths.get(ctx.opts.data, s"$t.parquet"))

  def generate(): Unit = ()

  /** The warm-up is one pass like the measured ones. */
  override def warmUp(): Unit = graft.OracleInputs.withDurability(false) {
    prepare()
    order.foreach(q =>
      Warehouse.saveModel(registry(q)(spark, ctx.opts.data), QueryMix.Db, q))
    graft.ops.PlanCache.release(spark)
    spark.catalog.clearCache()
  }

  override def prepare(): Unit = spark.sql(s"DROP DATABASE IF EXISTS `${QueryMix.Db}` CASCADE")

  def iteration(): Iter = {
    val t0 = System.nanoTime()
    val t0Ms = System.currentTimeMillis()
    val results = graft.OracleInputs.withDurability(false) {
      order.map { q =>
        val (r, t) = ctx.span(s"ops.$q")(scala.util.Try(
          Warehouse.saveModel(registry(q)(spark, ctx.opts.data), QueryMix.Db, q)))
        if (ctx.tracing) ctx.addLayer(s"ops.$q.s", t)
        (q, r, t)
      }
    }
    val wall = Harness.seconds(t0)
    graft.ops.PlanCache.release(spark)
    spark.catalog.clearCache()
    val failed = results.count { case (q, r, _) =>
      r.isFailure || !scala.util.Try(Tags.untraced(spark)(
        Digest.of(spark.table(s"`${QueryMix.Db}`.`$q`")))).toOption
        .exists(expected.get(q).contains)
    }
    Iter(wall, results.map(_._3), failed, t0Ms, t0Ms + (wall * 1000).toLong)
  }

  /** Digests of one pass. */
  def digests(): Seq[(String, Digest)] = graft.OracleInputs.withDurability(false) {
    order.map(q => q -> Digest.of(registry(q)(spark, ctx.opts.data)))
  }
}

object QueryMix {
  val Db = "perfbench_query_mix"
  val Queries: Seq[String] = Seq(
    "q_dedup_clusters", "q_split_leakage_safe",
    "q_eccentricity", "q_jaccard_join_exact",
    "q_theta_sketch", "q_join_equi", "q_window_latest_by_pk",
    "q_rollup_agg", "q_session_window")

  /** The fixture tables these queries read. */
  val Tables: Seq[String] = Seq("customer", "orders", "lineitem", "nation",
    "region", "events", "documents")
}
