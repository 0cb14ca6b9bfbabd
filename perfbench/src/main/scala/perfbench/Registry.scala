package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Caches, SparkEntry}

/** Order-independent content fingerprint of a frame: row count plus the
  * sum of 32-bit row hashes over the columns taken in name order. It is
  * one aggregate, so it serves as a query's final action.
  */
object Fingerprint {
  final case class Fp(rows: Long, hash: Long)

  def of(df: DataFrame): Fp = {
    val cols = df.columns.sorted.toIndexedSeq.map(c => col(s"`$c`"))
    val h = if (cols.isEmpty) lit(0L) else pmod(xxhash64(cols: _*), lit(4294967296L))
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    Fp(r.getLong(0), r.getLong(1))
  }
}

/** The registry workloads: named queries from [[SparkEntry.queries]], one
  * client in a closed loop, [[Caches.clearAll]] between queries (the
  * committed bench's protocol), each answer checked against its stored
  * fingerprint.
  */
final class Registry(val name: String, queries: Seq[String], dataDir: String,
                     expected: Map[String, Fingerprint.Fp], docsPerQuery: Long,
                     override val minPasses: Int) extends Workload {

  private val guardKeys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
  private var order: Seq[String] = queries

  def prepare(ctx: Ctx, round: Int): Unit = order = Registry.orderFor(ctx.seed, queries)

  /** One unchecked pass over the measured data: every plan compiles and
    * the code generator's cache fills, as in a resident engine.
    */
  def warmUp(ctx: Ctx): Unit = order.foreach(q => runQuery(ctx, q, dataDir, check = false))

  /** Build (the query-function call), final action, cache clear. The
    * op's latency is build + action; the clear and the conf guard count
    * only toward throughput.
    */
  private def runQuery(ctx: Ctx, q: String, dir: String, check: Boolean): Op = {
    val spark = ctx.spark
    val defaults = guardKeys.map(k => k -> spark.conf.get(k))
    val opId = ctx.nextOp()
    val sp = ctx.spans
    val t = Timer.start()
    val outcome = sp("queries.op", opId) {
      try {
        val df = sp("queries.build", opId)(SparkEntry.queries(q)(spark, dir))
        Right(sp("queries.action", opId)(Fingerprint.of(df)))
      } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    val (wall, cpu) = t.stop()
    sp("graft.caches.clear", opId)(Caches.clearAll(spark))
    defaults.foreach { case (k, v) => if (spark.conf.get(k) != v) spark.conf.set(k, v) }
    val err = outcome match {
      case Left(e) => Some(e)
      case Right(fp) if check && !expected.get(q).contains(fp) =>
        Some(s"wrong answer: got rows=${fp.rows} hash=${fp.hash}, expected ${expected.get(q)}")
      case _ => None
    }
    System.err.println(f"[perfbench] $q%s wall=$wall%.3f cpu=$cpu%.3f err=$err%s")
    Op("query", q, opId, wall, cpu, err, rows = outcome.toOption.map(_.rows).getOrElse(0L))
  }

  def pass(ctx: Ctx): Pass = {
    val t = Timer.start()
    val ops = order.map(q => runQuery(ctx, q, dataDir, check = true))
    val (wall, _) = t.stop()
    val work = if (docsPerQuery > 0) docsPerQuery * ops.size else ops.size.toLong
    Pass(ops, work / wall)
  }

  def latencies(ops: Seq[Op]): Seq[Double] = ops.map(_.wall)

  /** Fingerprints every query once at the measured scale. */
  def fingerprints(ctx: Ctx): Seq[(String, Either[String, Fingerprint.Fp])] =
    queries.map { q =>
      val fp = try Right(Fingerprint.of(SparkEntry.queries(q)(ctx.spark, dataDir)))
      catch { case e: Throwable => Left(e.toString) }
      Caches.clearAll(ctx.spark)
      q -> fp
    }
}

object Registry {
  /** The seeded closed-loop order of one pass. */
  def orderFor(seed: Long, queries: Seq[String]): Seq[String] =
    new scala.util.Random(seed).shuffle(queries)

  def expectedFrom(path: String): Map[String, Fingerprint.Fp] = {
    val f = new java.io.File(path)
    if (!f.isFile) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      Json.read(path).get("queries").properties().asScala.map { e =>
        e.getKey -> Fingerprint.Fp(e.getValue.get("rows").asLong, e.getValue.get("hash").asLong)
      }.toMap
    }
  }

  def countDocs(spark: SparkSession, dir: String): Long =
    graft.sources.Tables(spark, dir, "documents").count()
}
