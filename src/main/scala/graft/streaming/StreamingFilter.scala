package graft.streaming

import org.apache.spark.sql.DataFrame
import graft.compile.Compiler
import graft.engine.FilterEngine
import graft.model.OsmView

/** Structured Streaming surface (SURVEY.md §2.9): the compiled OFL filter is
  * a pure `Column`, so it applies unchanged to a `readStream` over the same
  * docs schema — `spark.readStream.schema(docsSchema).parquet(dir)` (or any
  * source producing (doc_id, spans[, type, seq]) rows) → derive typed view →
  * filter → `writeStream`. No watermarks/event-time state are needed for a
  * stateless filter; exactly-once lands via the sink's checkpointLocation.
  */
object StreamingFilter {

  /** Applies an OFL expression to a STREAMING docs DataFrame. Same
    * parse/analyze/never-match lifecycle as the batch path; the returned
    * frame is start()-able with any sink. */
  def apply(streamingDocs: DataFrame, expression: String,
            idLoader: Compiler.IdListLoader = Compiler.noFiles): DataFrame = {
    val q = FilterEngine.parse(expression)
    if (q.neverMatches)
      throw new graft.ofl.OflTypeException("Filter expression can never match")
    // same derivation as the batch path: each micro-batch pays one early-exit
    // spans pass per predicate field, and one merged pass for the output
    OsmView.derive(streamingDocs)
      .filter(Compiler.compileEffective(q.ast, idLoader))
  }
}
