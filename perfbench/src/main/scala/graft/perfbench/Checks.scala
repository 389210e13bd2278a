package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Row count and order-independent checksum of a result. */
final case class Digest(rows: Long, checksum: Long)

/** Per written file: rows, checksum, `seq` range and whether `seq` strictly
  * ascends inside the file in storage order. */
final case class FileFacts(dir: String, file: String, rows: Long, checksum: Long,
                           minSeq: Long, maxSeq: Long, ascending: Boolean)

object Checks {
  private val Mod = 1L << 31

  /** Row hash summed into checksums: fits 2^32 rows in a long without overflow. */
  def rowHash(cols: Column*): Column = pmod(xxhash64(cols: _*), lit(Mod))

  private def digestCols(cols: Seq[String]): Seq[Column] = Seq(
    count(lit(1)).as("n"),
    coalesce(sum(rowHash(cols.map(col): _*)), lit(0L)).as("h"))

  /** Digest computed as its own Spark job (expected values, input prints). */
  def digest(df: DataFrame, cols: String*): Digest = {
    val r = df.agg(digestCols(cols).head, digestCols(cols).tail: _*).head()
    Digest(r.getLong(0), r.getLong(1))
  }

  /** Runs `df` to completion into the noop sink and observes its digest on
    * the way — the sink of every job whose result is not written to files. */
  def sink(df: DataFrame, cols: String*): Digest = {
    val obs = Observation()
    df.observe(obs, digestCols(cols).head, digestCols(cols).tail: _*)
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    Digest(m("n").asInstanceOf[Long], m("h").asInstanceOf[Long])
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** True when the non-empty files, in part-number order, each ascend and
    * the ranges do not overlap: the output is strictly ascending in `seq`. */
  def ordered(files: Seq[FileFacts]): Boolean = {
    val ne = files.filter(_.rows > 0).sortBy(_.file)
    ne.forall(_.ascending) && ne.zip(ne.drop(1)).forall { case (a, b) => a.maxSeq < b.minSeq }
  }

  /** Mismatch message, or None when the output is what was expected. */
  def compare(expected: Digest, got: Digest, ordered: Boolean = true): Option[String] =
    if (expected != got) Some(s"expected $expected, got $got")
    else if (!ordered) Some("seq is not strictly ascending")
    else None

  private def partFacts(rows: Iterator[(String, Long, Long)]): Iterator[FileFacts] = {
    val out = scala.collection.mutable.LinkedHashMap[String, FileFacts]()
    var last: (String, Long) = (null, Long.MinValue)
    rows.foreach { case (file, seq, h) =>
      val asc = last._1 != file || seq > last._2
      last = (file, seq)
      val dir = file.substring(0, file.lastIndexOf('/'))
      val f = out.getOrElse(file, FileFacts(dir, file, 0L, 0L, seq, seq, ascending = true))
      out(file) = FileFacts(dir, file, f.rows + 1, f.checksum + h,
        math.min(f.minSeq, seq), math.max(f.maxSeq, seq), f.ascending && asc)
    }
    out.valuesIterator
  }

  /** Digest and order facts of written parquet outputs, all dirs in one
    * Spark job. Each file is read as its own split so storage order is
    * seen as written. Keyed by the dir as given. */
  def written(spark: SparkSession, dirs: Seq[String]): Map[String, (Digest, Boolean)] = {
    import spark.implicits._
    val withData = dirs.filter { d =>
      Option(new java.io.File(d).listFiles()).exists(_.exists(_.getName.endsWith(".parquet")))
    }
    val facts =
      if (withData.isEmpty) Seq.empty[FileFacts]
      else {
        val keys = Seq("spark.sql.files.openCostInBytes", "spark.sql.files.maxPartitionBytes")
        val saved = keys.map(k => k -> spark.conf.getOption(k))
        keys.foreach(spark.conf.set(_, (1L << 40).toString))
        try spark.read.parquet(withData: _*)
          .select(input_file_name(), col("seq"), rowHash(col("doc_id"), col("seq")))
          .as[(String, Long, Long)]
          .mapPartitions(partFacts)
          .collect().toSeq
        finally saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None)    => spark.conf.unset(k)
        }
      }
    def norm(d: String) = new java.io.File(d).getCanonicalPath
    val byDir = facts.groupBy(f => norm(new java.net.URI(f.dir).getPath))
    dirs.map { d =>
      val fs = byDir.getOrElse(norm(d), Nil)
      d -> (Digest(fs.map(_.rows).sum, fs.map(_.checksum).sum), ordered(fs))
    }.toMap
  }
}
