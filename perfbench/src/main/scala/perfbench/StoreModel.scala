package perfbench

import scala.collection.mutable

/** The live rows a correct snapshot table holds, kept beside the table by
  * the store workload: every read is checked against it, and each
  * committed version's row count and value sum are remembered for the
  * time-travel checks.
  */
final class StoreModel {
  import StoreModel._

  private val live = mutable.LinkedHashMap.empty[Long, Row]
  private val versions = mutable.HashMap.empty[Long, Summary]
  private val txns = mutable.HashMap.empty[String, Long]

  def get(key: Long): Option[Row] = live.get(key)
  def keys: IndexedSeq[Long] = live.keys.toIndexedSeq
  def summary: Summary = Summary(live.size.toLong, live.valuesIterator.map(_.value).sum)
  def at(version: Long): Option[Summary] = versions.get(version)
  def lastTxn(writer: String): Option[Long] = txns.get(writer)

  /** Rows added by an overwrite or append commit. */
  def insert(version: Long, rows: Seq[Row], txn: Option[(String, Long)] = None): Unit = {
    rows.foreach { r =>
      require(!live.contains(r.key), s"key ${r.key} is already live")
      live(r.key) = r
    }
    committed(version, txn)
  }

  /** A keyed upsert: each row replaces the live row with its key. */
  def merge(version: Long, rows: Seq[Row]): Unit = {
    rows.foreach { r =>
      live.get(r.key).foreach(old =>
        require(old.part == r.part, s"key ${r.key} cannot change partition"))
      live(r.key) = r
    }
    committed(version, None)
  }

  def delete(version: Long, keys: Seq[Long]): Unit = {
    keys.foreach(live.remove)
    committed(version, None)
  }

  private def committed(version: Long, txn: Option[(String, Long)]): Unit = {
    versions(version) = summary
    txn.foreach { case (w, b) => txns(w) = b }
  }
}

object StoreModel {
  final case class Row(key: Long, part: Int, value: Long)
  final case class Summary(rows: Long, valueSum: Long)
}
