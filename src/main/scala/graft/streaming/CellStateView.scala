package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** CDC STATE VIEW — a stateful streaming materializer over the cell
  * store's change feed: consume the typed edit log
  * (`option("changeFeed","true")`: puts with bodies, delete markers as
  * op='delete' rows) and maintain, per rowkey, the store's CURRENT
  * MASKED VIEW — exactly what an HBase replication consumer builds
  * from the WAL on the far cluster. This is the delete-aware closure
  * of the q143-class materialized view: without delete events a
  * downstream MV diverges from the source forever after the first
  * delete; with them it re-converges on the next trigger.
  *
  * Shape: `groupByKey(rowkey)` → `flatMapGroupsWithState`. Keyed state
  * per rowkey:
  *
  *  - `cells`: the live (version, body) list, capped to the newest
  *    `maxVersions` (the DDL retention a serving store applies — state
  *    stays bounded per key no matter how many edits replay);
  *  - `delBound`: the highest delete-mask bound seen — an arriving put
  *    at version ≤ delBound is masked on arrival (the HBase rule that
  *    a marker masks later puts at covered versions), and an arriving
  *    marker drops every held cell it covers.
  *
  * Emission: after each key's batch of edits, the key's current
  * VISIBLE cells (post-mask, post-retention) — OutputMode.Update
  * semantics: downstream sees the key's replacement rows. A key whose
  * visible set becomes empty emits a single `deleted=true` row so a
  * sink can retract (without it, "key fully deleted" would be
  * indistinguishable from "no change").
  *
  * 100 TB posture: state is per-rowkey and bounded by maxVersions —
  * the shuffle is the one hash exchange on rowkey Structured Streaming
  * always pays for keyed state; edit volume per trigger is the feed's
  * watermark window, never the table. Checkpointed state replays
  * deterministically because the feed's offsets are closed version
  * windows (CellsSource contract).
  */
object CellStateView {

  /** one edit row off the change feed, pre-projected */
  private[streaming] final case class Edit(rowkey: Array[Byte], version: Long,
                                           body: Array[Byte], op: String)

  /** keyed state: live cells (newest-first, capped) + delete bound +
    * whether the key's current deletion was already retracted —
    * retraction is AT-MOST-ONCE PER DELETION (a later batch delivering
    * only covered puts or further markers for an already-empty key must
    * not re-emit; a key that comes back visible and is deleted again
    * retracts again). */
  private[streaming] final case class KeyState(cells: List[(Long, Array[Byte])],
                                               delBound: Long,
                                               retracted: Boolean = false)

  /** emitted row: a key's visible cell, or its deletion retraction */
  final case class ViewRow(rowkey: Array[Byte], version: Long,
                           body: Array[Byte], deleted: Boolean)

  /** Wire the state view over a change-feed stream. `feed` must carry
    * (rowkey BINARY, version BIGINT, body BINARY nullable, op STRING) —
    * the change-feed schema. */
  def view(feed: DataFrame, maxVersions: Int = Int.MaxValue): Dataset[ViewRow] = {
    val spark = feed.sparkSession
    import spark.implicits._
    feed.select(col("rowkey"), col("version"), col("body"), col("op"))
      .as[(Array[Byte], Long, Array[Byte], String)]
      .map { case (k, v, b, op) => Edit(k, v, b, op) }
      // group on a STRING key: Array[Byte] equality is reference
      // equality, which would split one rowkey's edits across groups
      .groupByKey(e => e.rowkey.map(b => f"$b%02x").mkString)
      .flatMapGroupsWithState[KeyState, ViewRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: String, edits: Iterator[Edit], state: GroupState[KeyState]) =>
          val st0 = state.getOption.getOrElse(KeyState(Nil, Long.MinValue))
          var cells = st0.cells
          var delBound = st0.delBound
          var rowkey: Array[Byte] = null
          // apply the batch's edits in version order — the feed's
          // closed windows guarantee no earlier-versioned edit arrives
          // in a later batch, so per-batch ordering is total ordering.
          // Exact-version deletes (op='delete_version') are resolved
          // WITHIN the batch: every edit at version v arrives in the
          // window containing v (the same closed-window contract), so
          // the masked set needs no cross-batch state — order-
          // independent either way (marker first masks the put on
          // arrival; put first is dropped by the marker).
          val exactDel = scala.collection.mutable.HashSet.empty[Long]
          var maxEdit = Long.MinValue // retraction stamp when no bound marker set delBound
          edits.toSeq.sortBy(_.version).foreach { e =>
            rowkey = e.rowkey
            if (e.version > maxEdit) maxEdit = e.version
            if (e.op == "delete") {
              if (e.version > delBound) delBound = e.version
              cells = cells.filter(_._1 > delBound)
            } else if (e.op == "delete_version") {
              exactDel += e.version
              cells = cells.filterNot(_._1 == e.version)
            } else if (e.version > delBound && !exactDel.contains(e.version)) {
              // a put at ≤ delBound or at an exactly-deleted version is
              // masked on arrival
              cells = ((e.version, e.body) :: cells.filterNot(_._1 == e.version))
                .sortBy(-_._1).take(maxVersions) // retention keeps state bounded
            }
          }
          val retractNow = cells.isEmpty && rowkey != null && !st0.retracted
          state.update(KeyState(cells, delBound,
            retracted = cells.isEmpty && (st0.retracted || retractNow)))
          if (rowkey == null) Iterator.empty // state-only trigger (no edits)
          // the retraction's version must cover everything it retracts:
          // a key emptied purely by exact-version deletes never set
          // delBound, so stamp the batch's max edit version (the
          // newest deleted cell / marker) — never Long.MinValue
          else if (retractNow)
            Iterator.single(ViewRow(rowkey, math.max(delBound, maxEdit), null, deleted = true))
          else if (cells.isEmpty) Iterator.empty // already retracted — downstream counts stay exact
          else cells.iterator.map { case (v, b) => ViewRow(rowkey, v, b, deleted = false) }
      }
  }
}
