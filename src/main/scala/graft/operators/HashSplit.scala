package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.PortableHash

/** The train/val/test split every curation stage shares: a document's
  * split is a pure function of its id, `hash60(id ‖ "|split") % 100`
  * cut at 80 / 90 (80/10/10). No rand(), no sampleBy, so the holdout
  * never leaks into training across reruns, re-partitions, engines or
  * the batch/stream boundary.
  *
  * This object is the one owner of the salt and the cutoffs. It gives
  * the Spark Column forms, batch and stream alike, and the DuckDB text
  * of the oracles, all read from the same constants. */
object HashSplit {

  val Salt = "|split"

  /** Buckets below this are train. */
  val TrainCut = 80

  /** Buckets in [TrainCut, ValCut) are val, the rest test. */
  val ValCut = 90

  /** The id's split bucket, 0..99. */
  def bucket(id: Column): Column = PortableHash.salted(id, Salt) % 100

  def isTrain(id: Column): Column = bucket(id) < TrainCut

  /** Val or test: the held-out side of the cut. */
  private def isHeldOut(id: Column): Column = bucket(id) >= TrainCut

  /** "train", "val" or "test". */
  def label(id: Column): Column = {
    val b = bucket(id)
    when(b < TrainCut, "train").when(b < ValCut, "val").otherwise("test")
  }

  /** A pair whose ends fall on opposite sides of the train cut. */
  def straddles(a: Column, b: Column): Column =
    (isTrain(a) && isHeldOut(b)) || (isHeldOut(a) && isTrain(b))

  /** The train end of a pair that [[straddles]] the cut. */
  def trainEnd(a: Column, b: Column): Column = when(isTrain(a), a).otherwise(b)

  /** The held-out end of a pair that [[straddles]] the cut. */
  def heldOutEnd(a: Column, b: Column): Column =
    when(isTrain(a), b).otherwise(a)

  /** DuckDB twin of [[bucket]] over expression `e`. */
  private def bucketSql(e: String): String = s"(${PortableHash.saltedSql(e, Salt)} % 100)"

  def isTrainSql(e: String): String = s"${bucketSql(e)} < $TrainCut"

  def isHeldOutSql(e: String): String = s"${bucketSql(e)} >= $TrainCut"

  /** DuckDB twin of [[straddles]]; `sep` goes before the `OR`. */
  def straddlesSql(a: String, b: String, sep: String): String =
    s"(${isTrainSql(a)} AND ${isHeldOutSql(b)})${sep}OR " +
      s"(${isHeldOutSql(a)} AND ${isTrainSql(b)})"

  /** DuckDB twin of [[label]]; `sep` goes before each WHEN/ELSE after the
    * first, so a caller can lay the CASE out on one line or several. */
  def labelSql(e: String, sep: String = " "): String =
    s"CASE WHEN ${isTrainSql(e)} THEN 'train'${sep}WHEN ${bucketSql(e)} " +
      s"< $ValCut THEN 'val'${sep}ELSE 'test' END"
}
