package graft.perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Command-line options of one benchmark run. */
final case class Opts(
    workload: String = "",
    seed: Long = 1L,
    seconds: Int = 10,
    trace: Boolean = false,
    smoke: Boolean = false,
    plant: Boolean = false,
    data: String = "",
    expected: String = "")

/** One measured iteration: its wall time, the latency of each unit it ran,
  * how many of those units failed (error or wrong output), and the epoch-ms
  * window the wall covers.
  */
final case class Iter(wallS: Double, units: Seq[Double], failed: Int,
                      t0Ms: Long, t1Ms: Long)

/** State shared by the harness and the workloads of one run. */
final class Ctx(val spark: SparkSession, val opts: Opts, val work: Path,
                val meter: Meter) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val warehouse: Path =
    java.nio.file.Paths.get(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")))

  /** True while a traced iteration runs: spans then tag their jobs. */
  @volatile var tracing = false

  private val layer = mutable.Map.empty[String, Double]

  /** Harness-timed layer values recorded during the current traced
    * iteration; `take` hands them over and starts a fresh set.
    */
  def addLayer(name: String, v: Double): Unit =
    layer.synchronized { layer(name) = layer.getOrElse(name, 0.0) + v }
  def maxLayer(name: String, v: Double): Unit =
    layer.synchronized { layer(name) = math.max(layer.getOrElse(name, 0.0), v) }
  def takeLayer(): Map[String, Double] =
    layer.synchronized { val m = layer.toMap; layer.clear(); m }

  /** Times `body`; while tracing, its jobs carry the span tag `name`. */
  def span[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = if (tracing) Tags.withLocal(spark, Tags.Span, name)(body) else body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** A benchmark workload. `generate` and `warmUp` are set-up; `prepare`
  * resets state, untimed and untraced, before every iteration; `iteration`
  * times its own wall and checks its own outputs afterwards.
  */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  /** The generated input files the engine reads (for input bytes). */
  def inputFiles: Seq[Path]
  def generate(): Unit
  def prepare(): Unit = ()
  def iteration(): Iter
  /** One untimed iteration. */
  def warmUp(): Unit = { prepare(); val _ = iteration() }
  /** Traced runs only: layer calls timed outside the iteration's wall. */
  def afterTraced(): Unit = ()
}

object Harness {
  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Total size of the regular files under `p`. */
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it; below 21
    * samples that percentile is not above the median, so the slowest sample
    * stands in. Returns (value, percentile label).
    */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val s = xs.sorted
    val i = if (s.size >= 21) s.size - 11 else s.size - 1
    (s(i), (100 * (i + 1)) / s.size)
  }

  /** Runs `f` for every key on a fixed pool of `threads`, timing each; a
    * failure is returned, never thrown, so every task is awaited.
    */
  def parallel[K, T](keys: Seq[K], threads: Int)(f: K => T)
      : Seq[(K, scala.util.Try[T], Double)] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = keys.map { k =>
        k -> Future {
          val t0 = System.nanoTime()
          val r = scala.util.Try(f(k))
          (r, seconds(t0))
        }
      }
      fs.map { case (k, fut) =>
        val (r, s) = Await.result(fut, Duration.Inf)
        (k, r, s)
      }
    } finally pool.shutdown()
  }
}

/** Order-independent content digest of a frame: row count plus the sum of
  * a 64-bit hash of every row over all columns, in column order.
  */
final case class Digest(rows: Long, sum: java.math.BigDecimal) {
  override def toString: String = s"$rows:${sum.toPlainString}"
}

object Digest {
  private def rowHash(cols: Seq[String]) =
    xxhash64(cols.map(c => col(s"`$c`")): _*).cast("decimal(20,0)")

  def of(df: DataFrame): Digest = {
    val r = df.agg(count(lit(1)), sum(rowHash(df.columns.toSeq))).head()
    Digest(r.getLong(0),
      Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** One pass over a frame that holds several tables tagged by `key`; the
    * key column is not hashed.
    */
  def byKey(df: DataFrame, key: String): Map[String, Digest] = {
    val cols = df.columns.toSeq.filterNot(_ == key)
    df.groupBy(col(key)).agg(count(lit(1)), sum(rowHash(cols))).collect()
      .map(r => r.getString(0) -> Digest(r.getLong(1),
        Option(r.getDecimal(2)).getOrElse(java.math.BigDecimal.ZERO))).toMap
  }

  def parse(s: String): Digest = {
    val Array(n, h) = s.split(":", 2)
    Digest(n.toLong, new java.math.BigDecimal(h))
  }

  /** A digest no real output has: the planted mismatch of the self-test. */
  def planted(d: Digest): Digest = d.copy(sum = d.sum.add(java.math.BigDecimal.ONE))
}
