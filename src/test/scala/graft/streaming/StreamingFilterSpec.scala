package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkTestSession
import graft.engine.FilterEngine
import graft.fixtures.DeterministicGen
import graft.model.OsmDocRow

/** The compiled filter must behave identically on a stream: feeding the
  * fixture through a MemoryStream in batches and [[FilterEngine.filter]]
  * yields exactly the batch result, in arrival order per micro-batch. */
class StreamingFilterSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("streaming filter over MemoryStream equals the batch filter") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val rows = DeterministicGen.docRows(0.001)
    val expr = "highway == residential or (@way and @tags >= 3)"

    val batchExpected = FilterEngine
      .filter(DeterministicGen.docsDF(spark, 0.001), expr)
      .select("doc_id").collect().map(_.getString(0)).toSet

    val stream = MemoryStream[OsmDocRow]
    val query = FilterEngine.filter(stream.toDF(), expr)
      .select("doc_id")
      .writeStream.format("memory").queryName("sf_out")
      .outputMode("append").start()

    rows.grouped(200).foreach { chunk => stream.addData(chunk); query.processAllAvailable() }
    query.stop()

    val got = spark.table("sf_out").collect().map(_.getString(0)).toSet
    assert(got === batchExpected)
    assert(got.nonEmpty)
  }

  test("never-match expression is rejected before the stream starts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[OsmDocRow]
    intercept[graft.ofl.OflTypeException](
      FilterEngine.filter(stream.toDF(), "@node and @way"))
  }
}
