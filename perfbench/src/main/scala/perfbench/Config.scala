package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** `perfbench/config.json`: the frozen query lists and workload sizes. */
final class Config(bench: String) {
  private val root = Json.read(s"$bench/config.json")
  private def wl(name: String) = Option(root.get("workloads").get(name))
    .getOrElse(sys.error(s"unknown workload $name"))

  def workload(name: String, spark: SparkSession): Workload = {
    val w = wl(name)
    def data(k: String) = s"$bench/${w.get(k).asText}"
    w.get("kind").asText match {
      case "registry" =>
        val docsPerQuery =
          if (w.path("throughput").asText == "docs") Registry.countDocs(spark, data("data")) else 0L
        new Registry(name, Json.strings(w.get("queries")), data("data"),
          Registry.expectedFrom(s"$bench/expected.json"), docsPerQuery,
          minPasses = w.get("min_passes").asInt)
      case "follower" =>
        def long(k: String) = w.get(k).asLong
        new Follower(Follower.Sizes(total = long("total_events"), backfill = long("backfill"),
          chunk = long("chunk"), epochs = long("epochs").toInt, minDiff = long("min_diff"),
          bucket = long("height_bucket"), users = long("users"),
          days = long("days"), retainDays = long("retain_days")),
          Follower.Sizes(total = long("warmup_events"), backfill = long("warmup_events") / 2,
            chunk = long("chunk"), epochs = long("warmup_epochs").toInt, minDiff = long("min_diff"),
            bucket = long("height_bucket"), users = long("users"),
            days = long("days"), retainDays = long("retain_days")))
      case k => sys.error(s"unknown workload kind $k")
    }
  }
}

object Config {
  def load(bench: String): Config = new Config(bench)

  /** Names of the per-layer metrics the mapping table in config.json covers. */
  def perLayerTable(bench: String): Seq[String] =
    Json.read(s"$bench/config.json").get("per_layer").fieldNames().asScala.toSeq
}

/** The metric lists of `BENCHMARK.json`, names and units: the one place
  * a metric is named. A run reports exactly these.
  */
final case class Contract(endToEnd: Seq[(String, String)], perLayer: Seq[(String, String)])

object Contract {
  def load(path: String): Contract = {
    val root = Json.read(path)
    def metrics(k: String) =
      root.get(k).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    Contract(metrics("end_to_end"), metrics("per_layer"))
  }

  /** Each listed metric with its value and unit; a listed metric the run
    * did not compute fails it.
    */
  def pick(listed: Seq[(String, String)], values: Map[String, Double])
      : Seq[(String, (Double, String))] = {
    val missing = listed.map(_._1).filterNot(values.contains)
    require(missing.isEmpty, s"metrics listed in BENCHMARK.json but not computed: $missing")
    listed.map { case (k, u) => k -> (values(k), u) }
  }
}
