package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Probe`'s argument parser, pinned without a Spark session: a
  * typo in a subcommand, query or section must fail before a session
  * starts, not after earlier queries have already run.
  */
class ProbeSpec extends AnyFunSuite {

  private val queries = SparkEntry.queries.keys.toSeq.sorted

  test("Probe.parse rejects an unknown subcommand, query name and section") {
    assert(Probe.parse(Seq.empty).isLeft)
    assert(Probe.parse(Seq("audit", "q03_filter_in_projection")).isLeft)
    assert(Probe.parse(Seq("jit", "q80_pq_adc_topk", "q80_pq_adc_topkk"))
      .left.exists(_.contains("q80_pq_adc_topkk")))
    assert(Probe.parse(Seq("plan", "q03_filter_in_projection", "q03"))
      .left.exists(_.contains("q03")))
    assert(Probe.parse(Seq("scale", "kcore", "prckpt"))
      .left.exists(_.contains("prckpt")))
    // a section is not a query, nor a query a section
    assert(Probe.parse(Seq("jit", "kcore")).isLeft)
    assert(Probe.parse(Seq("scale", "q33_city_pagerank")).isLeft)
  }

  test("Probe.parse accepts every default and every named query and section") {
    assert(Probe.parse(Seq("jit")) == Right(Probe.Cmd("jit", queries)))
    assert(Probe.parse(Seq("plan")) == Right(Probe.Cmd("plan", Probe.planDefaults)))
    assert(Probe.planDefaults.size == 48 &&
      Probe.planDefaults.forall(SparkEntry.queries.contains))
    assert(Probe.parse(Seq("scale")) == Right(Probe.Cmd("scale", ScaleProbe.sections)))
    assert(Probe.parse("jit" +: queries) == Right(Probe.Cmd("jit", queries)))
    assert(Probe.parse("plan" +: queries) == Right(Probe.Cmd("plan", queries)))
    assert(Probe.parse("scale" +: ScaleProbe.sections) ==
      Right(Probe.Cmd("scale", ScaleProbe.sections)))
    assert(Probe.parse(Seq("scale", "kcore")) == Right(Probe.Cmd("scale", Seq("kcore"))))
  }

  test("src/main/scala defines main in exactly Bench, Verify, Smoke, Probe, " +
    "EtlMain and StreamMain") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    val objectDecl = """^\s*object\s+(\w+).*""".r
    val mains = files(root).flatMap { f =>
      val lines = scala.util.Using.resource(
        scala.io.Source.fromFile(f, "UTF-8"))(_.getLines().toVector)
      lines.zipWithIndex.collect {
        case (line, i) if line.contains("def main(") &&
            !line.trim.startsWith("*") && !line.trim.startsWith("//") =>
          lines.take(i).reverseIterator.collectFirst { case objectDecl(o) => o }
            .getOrElse(s"${f.getPath}:${i + 1}")
      }
    }
    assert(mains.sorted == Seq("Bench", "EtlMain", "Probe", "Smoke", "StreamMain", "Verify"),
      s"objects with a main: $mains")
  }
}
