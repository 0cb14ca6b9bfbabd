package graft

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Window => LWindow}
import org.scalatest.funsuite.AnyFunSuite

/** One run of every registered query at sf0.001, shared by the
  * registry-wide tests of ContractSpec and PlanSpec, so a suite run builds
  * and counts each query once. A record keeps only what those tests read;
  * it holds no frame and no plan.
  */
object ContractSpec {
  import org.apache.spark.sql.types._

  /** `schema`: the public output schema (None when the query function
    * threw). `error`: why building or counting failed. `globalWindows`:
    * for each partition-less logical Window in the optimized plan, whether
    * an Aggregate sits beneath it (Left when the query function or its
    * optimized plan threw).
    */
  final case class Run(schema: Option[StructType], error: Option[String],
      globalWindows: Either[String, Seq[Boolean]])

  lazy val runs: Seq[(String, Run)] = {
    val spark = TestSpark.spark
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val run =
        try {
          val df = fn(spark, "/root/testdata/sf0.001")
          val windows =
            try Right(globalWindows(df.queryExecution.optimizedPlan))
            catch { case e: Throwable => Left(s"optimized plan threw: ${e.getMessage}") }
          try { df.count(); Run(Some(df.schema), None, windows) }
          catch { case e: Throwable => Run(Some(df.schema), Some(e.getMessage), windows) }
        } catch {
          case e: Throwable =>
            Run(None, Some(e.getMessage), Left(s"query function threw: ${e.getMessage}"))
        }
      name -> run
    }
  }

  private def globalWindows(plan: LogicalPlan): Seq[Boolean] =
    plan.collect {
      case w: LWindow if w.partitionSpec.isEmpty =>
        w.child.collectFirst { case a: Aggregate => a }.isDefined
    }
}

/** The driver-contract invariants that round 1 lost a whole round to:
  * every registered query must carry an oracle (and vice versa), and the
  * registry must stay non-trivially populated.
  */
class ContractSpec extends AnyFunSuite {
  import org.apache.spark.sql.types._
  import ContractSpec.{Run, runs}

  test("every query has an oracle twin and every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries missing oracles: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles missing queries: ${(o -- q).toSeq.sorted}")
    assert(q.size >= 52)
  }

  test("every registered query runs at sf0.001 (the driver's smoke scale)") {
    // The bench warmup swallows per-query errors at this scale; a query
    // that only works above some row count would otherwise surface as a
    // confusing driver-side failure.
    val failures = runs.collect { case (name, Run(_, Some(err), _)) => s"$name: $err" }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("every registered query's PUBLIC output schema is scalar-only") {
    // The driver's correctness gate sorts result rows with pandas
    // sort_values, which throws on array/struct/map cells (unhashable
    // ndarray in factorize) — round 12's q127 was green in the dev
    // harness and red in the driver for exactly this. Operators may
    // return typed arrays (Sft.renderChat does, SftSpec pins it); the
    // REGISTERED projection must canonicalize them (to_json) first.
    // A query whose function throws has no schema and is an offender.
    val offenders = runs.flatMap {
      case (name, Run(None, err, _)) => Seq(s"$name: query function threw: ${err.orNull}")
      case (name, Run(Some(schema), _, _)) =>
        schema.fields.toSeq.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
                    f.dataType.isInstanceOf[StructType] ||
                    f.dataType.isInstanceOf[MapType] ||
                    f.dataType.isInstanceOf[BinaryType] =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
    }
    assert(offenders.isEmpty,
      s"non-scalar public output columns (driver cannot sort these):\n" +
        offenders.mkString("\n"))
  }

  test("query names are unique across the contributing registries") {
    import graft.queries._
    val maps = Seq(Relational.all, JsonPipelines.all, LlmPipelines.all,
      Graphs.all, Extensions.all, Curation.all, Sinks.all, Summaries.all)
    val total = maps.map(_.size).sum
    assert(total == SparkEntry.queries.size,
      "a query name collides across registries (map ++ silently dropped one)")
  }
}
