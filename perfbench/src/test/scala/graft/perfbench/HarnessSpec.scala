package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.compile.Compiler
import graft.engine.FilterEngine
import graft.fixtures.DeterministicGen
import graft.model.OsmView
import graft.ofl.Parser

class HarnessSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  private val dir = new java.io.File("target/selftest").getCanonicalPath

  private def facts(file: String, min: Long, max: Long, asc: Boolean = true) =
    FileFacts("d", file, max - min + 1, 0L, min, max, asc)

  test("a planted wrong expected value is reported") {
    val got = Digest(10, 12345)
    assert(Checks.compare(Digest(10, 12345), got).isEmpty)
    assert(Checks.compare(Digest(10, 12346), got).isDefined)
    assert(Checks.compare(Digest(11, 12345), got).isDefined)
    assert(Checks.compare(Digest(10, 12345), got, ordered = false).isDefined)
  }

  test("seq order holds only across non-overlapping ascending files") {
    assert(Checks.ordered(Seq(facts("part-00001", 5, 9), facts("part-00000", 0, 4))))
    assert(!Checks.ordered(Seq(facts("part-00000", 0, 5), facts("part-00001", 5, 9))))
    assert(!Checks.ordered(Seq(facts("part-00000", 0, 4, asc = false))))
  }

  test("tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 30).map(_.toDouble)
    assert(Harness.tail(xs) == (66, 20.0))
    assert(Harness.tail((1 to 20).map(_.toDouble)) == (50, 10.0))
    assert(Harness.tail(Seq(1.0, 2.0, 3.0))._1 == 50)
  }

  test("per-kind medians keep the least-stolen half of each kind's attempts") {
    val km = Harness.kindMedians(Seq(("a", 1.0, 0.01), ("a", 3.0, 0.0), ("a", 2.0, 0.02),
      ("b", 8.0, 0.3), ("b", 10.0, 0.0), ("c", 4.0, 0.0), ("c", 9.0, 0.0),
      ("d", 5.0, 0.0), ("d", 7.0, 0.0), ("d", 6.0, 0.1), ("d", 20.0, 0.2)))
    assert(km == Map("a" -> 2.0, "b" -> 10.0, "c" -> 4.0, "d" -> 6.0))
    assert(math.abs(Harness.geomean(Seq(2.0, 9.0)) - math.sqrt(18.0)) < 1e-12)
    assert(Harness.geomean(Nil) == 0.0)
  }

  test("written outputs are checked against the HOF derivation, and a planted value fails") {
    val docs = DeterministicGen.docsDF(spark, 0.005).repartition(3)
    val expr = "highway == residential"
    val out = s"$dir/filtered"
    FilterEngine.writeOrdered(FilterEngine.filter(docs, expr), out)
    val scrambled = s"$dir/scrambled"
    FilterEngine.filter(docs, expr).select("doc_id", "spans", "type", "seq")
      .repartition(3).write.mode("overwrite").parquet(scrambled)
    val expected = Checks.digest(
      OsmView.deriveHof(docs).filter(Compiler.compileEffective(Parser.parse(expr))),
      "doc_id", "seq")
    assert(expected.rows > 0)
    val w = Checks.written(spark, Seq(out, scrambled))
    val (d, ordered) = w(out)
    assert(Checks.compare(expected, d, ordered).isEmpty)
    assert(Checks.compare(expected.copy(checksum = expected.checksum + 1), d, ordered).isDefined)
    val (d2, ordered2) = w(scrambled)
    assert(d2 == expected && !ordered2)
  }

  test("the observed sink digest equals a separately computed digest") {
    val df = spark.range(0, 1000).select(col("id").as("key_a"), (col("id") * 7).as("key_b"))
    assert(Checks.sink(df, "key_a", "key_b") == Checks.digest(df, "key_a", "key_b"))
  }

  test("BENCHMARK.json names exactly the metrics the harness prints") {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("..", "BENCHMARK.json")))
    def names(section: String): Seq[String] = {
      val body = text.substring(text.indexOf("\"" + section + "\""))
      val list = body.substring(body.indexOf('['), body.indexOf(']') + 1)
      "\"name\":\\s*\"([^\"]+)\"".r.findAllMatchIn(list).map(_.group(1)).toSeq
    }
    assert(names("end_to_end") == Harness.EndToEnd.map(_._1))
    assert(names("per_layer") == Harness.PerLayer.map(_._1))
    assert(names("workloads") == Harness.Workloads)
  }
}
