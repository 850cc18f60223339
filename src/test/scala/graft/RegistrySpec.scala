package graft

/** The round-8 lesson as CI (VERDICT r9 "Next round #4"): that round's
  * testdata generator moved `events.ts` to a new parquet storage form,
  * every events query failed at ANALYSIS inside the driver run, and the
  * driver artifacts silently shrank from 152 to 131 rows — `sbt test`
  * stayed green throughout because nothing exercised the full registry.
  * This spec closes that gap on the builder's side of the fence:
  *
  *  - every registered query must CONSTRUCT and ANALYZE against the
  *    real sf0.001 tables (`.schema` forces analysis; batch queries
  *    execute nothing — streaming gates do run their tiny drain, which
  *    is precisely the construction that failed in r8);
  *  - the registry size is PINNED, so an accidental name collision
  *    between area maps (silent `++` override) or a dropped entry goes
  *    red instead of shrinking the driver artifacts;
  *  - `queries` and `oracleSql` must cover the same names — a query
  *    without an oracle silently downgrades to a rows-only check.
  */
class RegistrySpec extends GraftSpec {

  private val Sf = "/root/testdata/sf0.001"

  /** Update DELIBERATELY when registering new queries — a mismatch in
    * either direction is the alarm this spec exists to raise.
    */
  private val PinnedSize = 220 // r18 (+3): drift-refreshed persisted PQ code store, retention + per-cell-compaction serving faces

  test(s"registry holds exactly $PinnedSize queries (no silent shrink/override)") {
    // both numbers derive from SparkEntry.groups itself, so adding an
    // area object cannot desynchronize this check from the registry
    val totalAcrossAreas = SparkEntry.groups.map(_._1.size).sum
    assert(SparkEntry.queries.size === PinnedSize,
      "registry size drifted — update PinnedSize only for a deliberate add/remove")
    // a duplicate name across area maps would survive the ++ union with
    // one implementation silently shadowing the other
    assert(totalAcrossAreas === SparkEntry.queries.size,
      "area maps overlap: a query name is registered twice and one " +
        "implementation is silently shadowed")
  }

  test("queries and oracleSql cover the same names") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val noQuery = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(noOracle.isEmpty, s"queries without an oracle: $noOracle")
    assert(noQuery.isEmpty, s"oracles without a query: $noQuery")
  }

  test("every registered query analyzes against the sf0.001 tables") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, Sf).schema; None }
        catch {
          case e: Throwable => Some(
            s"$name: ${e.getClass.getSimpleName}: " +
              String.valueOf(e.getMessage).linesIterator.take(1).mkString.take(200))
        }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries failed analysis:\n${failures.mkString("\n")}")
  }

  test("stream_ann_ivf_persisted_refresh leaves no graft-* temp entries behind") {
    // The gate's staging, checkpoint and staged-source dirs are all
    // gate-private: the run deletes them once the stream has drained.
    // Only this JVM's gate dirs count (graft-<kind>-gate_<pid>_<n>):
    // another graft process may share java.io.tmpdir meanwhile.
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val ours = s"-gate_${ProcessHandle.current().pid()}_"
    def graftEntries: Set[String] = Option(tmp.listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(n => n.startsWith("graft-") && n.contains(ours)).toSet
    val before = graftEntries
    assert(SparkEntry.queries("stream_ann_ivf_persisted_refresh")(spark, Sf).count() > 0L)
    val after = graftEntries
    assert(after.size === before.size,
      s"the gate left temp entries behind: ${(after -- before).mkString(", ")}")
    // The memory-sink, file-sink and curation-pipeline gates delete
    // their checkpoint, staged-source, staging and sink output dirs too.
    val gateDirs = Seq("graft-ckpt-", "graft-src-", "graft-stage-", "graft-out-")
    for (name <- Seq("stream_count_by_key", "stream_dedup_events_wm",
                     "stream_curation_pipeline", "stream_join",
                     "stream_dedup_chunks_wm_evict",
                     "stream_docs_curation_e2e_kmeans")) {
      val pre = graftEntries
      assert(SparkEntry.queries(name)(spark, Sf).count() > 0L)
      val left = (graftEntries -- pre).filter(n => gateDirs.exists(n.startsWith))
      assert(left.isEmpty, s"$name left temp entries behind: ${left.mkString(", ")}")
    }
  }
}
