package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col, lit}

/** Shared append-path probe for the streaming registries: the log rows
  * whose `keyCol` is in the (append-sized) id set.
  *
  * When the id set fits `literalCap` it is COLLECTED and pushed as an
  * In-set FILTER instead of a semi join — pushed to the parquet scan,
  * where it skips row groups whose min/max stats miss every key, and
  * no join is planned. The sets are the ones the append paths already
  * broadcast whole to every executor, so driver-side collection is the
  * same size class. Above the cap (or cap <= 0): a broadcast semi
  * join, so the id set must fit a broadcast.
  *
  * CONTRACT: the FIRST column of `ids` must be LongType — every
  * registry key in the tree is a 64-bit id and the literal path reads
  * it with getLong. NULL ids are dropped at collect time, which is
  * semantics-preserving on both paths (a NULL key matches neither an
  * IN-list nor an equi-semi-join).
  */
private[streaming] object ProbeSlice {

  def apply(log: DataFrame, keyCol: String, ids: DataFrame,
      literalCap: Int): DataFrame = {
    val keys =
      if (literalCap <= 0) null
      else {
        val rows = ids.limit(literalCap + 1).collect()
        if (rows.length > literalCap) null
        else rows.filter(!_.isNullAt(0)).map(_.getLong(0))
      }
    if (keys != null && keys.isEmpty) log.filter(lit(false))
    else if (keys != null) log.filter(col(keyCol).isInCollection(keys))
    else {
      log.join(broadcast(ids.select(col(ids.columns.head).as(keyCol))),
        Seq(keyCol), "left_semi")
    }
  }
}
