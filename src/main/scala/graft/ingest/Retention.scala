package graft.ingest

import graft.ingest.PushTableSink.TableSpec

/** READ-TIME RETENTION — the HBase StoreScanner contract: `maxVersions`
  * and TTL are applied by the READ path the moment the descriptor says
  * so, and a major compaction merely reclaims the bytes of cells the
  * reads already hide. (Before round 15 retention here was
  * compaction-time only, so a capped/TTL'd table answered differently
  * before and after its major — the divergence this object closes.)
  *
  * One formula, shared verbatim by every consumer so the masked view is
  * identical everywhere it is computed:
  *
  *  - the connector's shard reader ([[graft.sources.CellsSource]]) —
  *    batch, `$latest`, and the row-level (MERGE/UPDATE/DELETE) target
  *    scan;
  *  - the F5 existence probe ([[FileStore.exists]]) — a retention-
  *    hidden cell reads as absent, so an ingest replay re-puts it and
  *    the re-put stays hidden while older than the cap/TTL;
  *  - the major compaction's keep-filter ([[Compaction.major]]) — the
  *    same ranking as SQL, so the major never changes answers.
  *
  * Rank versions NEWEST-FIRST per rowkey (over the key's LIVE —
  * delete-unmasked — versions, whole version range, not the scan's
  * pushed window: a newer version outside the window still occupies a
  * rank, exactly as it would after the major physically removed the
  * loser). Keep a version iff
  *
  *   rank <= maxVersions  AND  (version >= now − ttl  OR  rank <= minVersions)
  *
  * — HBase's MIN_VERSIONS floor: TTL never takes a key below its
  * declared minimum (reference descriptor contract:
  * reference:src/main/kotlin/app/batch/HbaseClient.kt:83-92).
  *
  * The change-feed / streaming faces NEVER apply retention (same rule
  * as delete masks: an edit log reports edits and replayed offset
  * windows must regenerate identical rows — HBase WALs likewise carry
  * expired edits). The clock is injectable (scan option
  * `retentionNowMillis`) so gates and compactions evaluate one deterministic instant; a plain
  * read snapshots the wall clock once per scan plan, the scanner-open
  * time HBase uses.
  */
object Retention {

  /** Resolved policy for one table: `cutoff` is `now − ttl` (or
    * `Long.MinValue` when the DDL says FOREVER). */
  final case class Policy(maxVersions: Int, minVersions: Int, cutoff: Long) {

    /** The admitted subset of one key's LIVE versions (caller has
      * already dropped delete-masked ones). Input order free; versions
      * are distinct by cell identity. */
    def admitted(versions: Seq[Long]): Set[Long] = {
      val desc = versions.distinct.sortBy(v => -v)
      val out = Set.newBuilder[Long]
      var rank = 1
      desc.foreach { v =>
        if (rank <= maxVersions && (v >= cutoff || rank <= minVersions)) out += v
        rank += 1
      }
      out.result()
    }

    /** Is `v` admitted given the key's full live version list? */
    def admits(v: Long, versions: Seq[Long]): Boolean = admitted(versions).contains(v)
  }

  /** Policy of a descriptor at a clock instant — None when the DDL is
    * the no-op default (unbounded versions, FOREVER TTL), so the hot
    * path pays nothing. */
  def of(spec: TableSpec, nowMillis: Long): Option[Policy] =
    if (spec.maxVersions == Int.MaxValue && spec.ttlMillis == Long.MaxValue) None
    else Some(Policy(
      maxVersions = spec.maxVersions,
      minVersions = math.max(1, spec.minVersions),
      cutoff = if (spec.ttlMillis == Long.MaxValue) Long.MinValue
               else nowMillis - spec.ttlMillis))

  /** Policy for a table under `root`, reading the recorded DDL. */
  def of(root: String, table: String, nowMillis: Long): Option[Policy] =
    FileStore(root).readSpecJson(table)
      .map(TableSpec.fromJson)
      .flatMap(of(_, nowMillis))
}
