package graft.ops

import org.apache.spark.sql.DataFrame

/** Content-addressed validity markers for standing indexes (r9 verdict
  * item: "make the standing indexes actually stand").
  *
  * Every registry query is a pure function of (spark, sfDir) — the right
  * contract — but through round 9 that purity was implemented by
  * REBUILDING each standing index (PQ codes, gram postings, shingle
  * sets) on every call: q122+q126 paid `pqIngest` twice per bench run,
  * q125/q127 re-tokenized the corpus per call, so the measured 63%/1000×
  * ingest amortization existed only in tools benches. The fix: after a
  * completed build, write a `_GRAFT_VALID` marker into the index root
  * holding a FINGERPRINT of the source data (file-stat based: name,
  * size, mtime of every input file — zero Spark jobs, invalidated by any
  * rewrite of the inputs) plus a small payload (ingest counters, corpus
  * size). A later call with the same fingerprint REUSES the completed
  * index; any change to the inputs — or a different (dataset, app)
  * Scratch root — rebuilds. The underscore name keeps the marker
  * invisible to Spark's file index, so readers of the root never see it.
  *
  * The marker is written AFTER the build completes (the `_SUCCESS`
  * discipline, one level up): a crash mid-build leaves no marker, so the
  * next call rebuilds — never serves a half-written index.
  *
  * All I/O goes through [[IndexFs]] (Hadoop `FileSystem` API, r12), so
  * index roots and source paths may live on any Hadoop-supported store
  * (local, HDFS, object stores) — see IndexFs's declared atomicity
  * scope. The marker itself needs no atomicity: it is written once,
  * after the build, and a torn read of a half-written marker fails the
  * fingerprint compare and rebuilds — safe, not wrong.
  *
  * The BATCH PROTOCOL of every appendable index (gram postings and their
  * df sidecar, shingle sets, the bucketed shingle form's sets sidecar and
  * manifest, the semantic-dedup index) lives here too, one definition
  * each:
  *  - layout: batch `id` of a root is the subdirectory `batch_<id>`
  *    ([[batchDir]], [[batchIds]]), read back by recursive lookup;
  *  - commit: a batch dir holding `_SUCCESS` ([[committed]]) — Spark's
  *    parquet writer drops it at job commit, and [[commit]] writes it for
  *    a manifest root whose batch data lives elsewhere;
  *  - auto ids: durable claims under `_claims` ([[claimBatchId]]);
  *  - compaction: the tmp → delete → rename swap that merges a root's
  *    batches into one ([[compact]]), the `_COMPACTED` high-water mark
  *    it leaves ([[compactedThrough]]), and the guard that refuses while
  *    a batch is committed in one sink of an index but not the other.
  */
object Standing {

  /** File-stat fingerprint of the given input paths (files or
    * directories, walked recursively in name order): changes when any
    * input file is added, removed, renamed, resized, or rewritten.
    * Content-addressed at the file-metadata level — no data is read and
    * no Spark job runs, which is the point: the check must be free
    * relative to the ingest it may skip. */
  def fingerprint(paths: String*): String = {
    val stats = paths.flatMap(IndexFs.statWalk)
      .map { case (p, len, mtime) => s"$p:$len:$mtime" }
      .mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(stats.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
  }

  private def marker(root: String) = s"$root/_GRAFT_VALID"

  /** The payload stored by [[markValid]], iff `root` holds a completed
    * build for exactly this fingerprint; None → caller must (re)build. */
  def validPayload(root: String, fp: String): Option[String] =
    IndexFs.readStringOpt(marker(root)).flatMap { text =>
      val lines = text.split("\n", 2)
      if (lines.head == fp) Some(if (lines.length > 1) lines(1) else "")
      else None
    }

  /** The marker's (fingerprint, payload) regardless of fingerprint — for
    * MAINTENANCE operations (incremental appends) that must read the
    * standing model and rewrite its payload under the SAME fingerprint:
    * an append changes the index contents but not the source the
    * fingerprint guards, so the guard survives and a SOURCE rewrite
    * still forces the full rebuild. */
  def current(root: String): Option[(String, String)] =
    IndexFs.readStringOpt(marker(root)).map { text =>
      val lines = text.split("\n", 2)
      (lines.head, if (lines.length > 1) lines(1) else "")
    }

  /** Remove the validity marker, if any — the first step of a REBUILD
    * that must also clean derived state (stale append batches): dropping
    * the marker before deleting anything guarantees no crash window in
    * which a marker still claims a half-cleaned index valid. */
  def invalidate(root: String): Unit =
    IndexFs.delete(marker(root))

  /** Record a completed build of `root` for source fingerprint `fp`,
    * with an optional payload (ingest counters, model sizes) the reuse
    * path hands back without recomputation. Call ONLY after every sink
    * of the build is fully written. */
  def markValid(root: String, fp: String, payload: String = ""): Unit =
    IndexFs.writeString(marker(root), fp + "\n" + payload)

  /** The reuse-or-build scaffold for indexes whose payload is two
    * counters — one definition instead of a copy per index (r12 review
    * find: the gram/shingle/bucketed ensures were three identical
    * match blocks). Runs `build` (which must fully write the index)
    * only when no valid marker exists, then records its counters. */
  def ensureCounters(root: String, fp: String)
                    (build: => (Long, Long)): (Long, Long) =
    validPayload(root, fp) match {
      case Some(p) =>
        val a = p.trim.split(" "); (a(0).toLong, a(1).toLong)
      case None =>
        val c = build
        markValid(root, fp, s"${c._1} ${c._2}")
        c
    }

  // ---- the batch protocol ----

  /** The directory of batch `id` under `root`. */
  def batchDir(root: String, id: Long): String = s"$root/batch_$id"

  /** Whether the write into `dir` committed (its `_SUCCESS` exists). A
    * crashed write leaves none, so readers and replays can tell it from
    * a finished one. */
  def committed(dir: String): Boolean = IndexFs.exists(s"$dir/_SUCCESS")

  def committed(root: String, id: Long): Boolean = committed(batchDir(root, id))

  /** Commit batch `id` of a MANIFEST root — one whose batch data lives
    * elsewhere (the bucketed table's partitions). Call after the data
    * write commits. */
  def commit(root: String, id: Long): Unit =
    IndexFs.writeString(s"${batchDir(root, id)}/_SUCCESS", "")

  /** Ids of the `batch_<id>` subdirectories under `root`, committed or
    * not. */
  def batchIds(root: String): Seq[Long] =
    IndexFs.childNames(root, dirsOnly = true)
      .collect { case n if n.startsWith("batch_") =>
        n.stripPrefix("batch_").toLong }

  /** Delete every batch dir and the claims namespace under `root` — the
    * cleanup a REBUILD owes before it blesses a fresh base (stale appends
    * must not survive into the new index). Other children stay. */
  def dropBatches(root: String): Unit =
    IndexFs.childNames(root, dirsOnly = true)
      .filter(n => n.startsWith("batch_") || n == "_claims")
      .foreach(n => IndexFs.delete(s"$root/$n"))

  /** Claim the next unused auto batch id of `root` by ATOMIC
    * create-if-absent of a DURABLE marker file under `root/_claims` — a
    * namespace no data write ever touches. A plain max+1 read is a TOCTOU
    * race (two concurrent appenders pick the same id), and claiming the
    * `batch_<id>` DATA directory itself is no better: the following
    * mode("overwrite") write DELETES it before recreating, and in that
    * window a concurrent appender could re-claim the freed id and the two
    * batches would silently overwrite each other. Claim markers are empty
    * FILES created via [[IndexFs.createExclusive]] (atomic on local/HDFS;
    * HDFS `mkdirs` returns true on existing dirs, so a dir cannot claim.
    * Object stores lack ANY atomic create-if-absent — there, name your
    * batches) and NEVER removed, so a claim outlives any crash or rewrite
    * of its batch: the id is burned, never reusable. The underscore keeps
    * Spark's file index from listing the markers. Candidates start past
    * the root's batch dirs, its compaction mark, `existing` (ids the
    * caller keeps elsewhere) and every prior claim; named-batch replays
    * bypass claims, so a named id below the claim watermark stays
    * replayable. */
  def claimBatchId(root: String, existing: Seq[Long] = Nil): Long = {
    val claims = s"$root/_claims"
    IndexFs.mkdirs(claims)
    // tolerate non-numeric detritus (NFS tombstones, stray sidecars) —
    // a foreign file must not brick every future auto-id append
    val claimed = IndexFs.childNames(claims)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
    var cand = (batchIds(root) ++ existing ++ claimed)
      .foldLeft(compactedThrough(root))(math.max) + 1L
    while (!IndexFs.createExclusive(s"$claims/$cand")) cand += 1
    cand
  }

  /** The compaction high-water mark of `root`: every batch with id ≤ this
    * was merged by [[compact]], so a REPLAY of such a batch must not
    * re-emit its rows into `root` (they would count twice). -1 when never
    * compacted. */
  def compactedThrough(root: String): Long =
    IndexFs.readStringOpt(s"$root/_COMPACTED")
      .map(_.trim.toLong).getOrElse(-1L)

  /** COMPACTION of `root`: rewrite its batches as ONE batch dir named
    * after the highest id, then record that id as the `_COMPACTED` mark.
    * `merged` must read the whole of `root`; it is written to a tmp dir
    * first, then the root is deleted, recreated and the tmp renamed in.
    * Keeping the highest id keeps later auto ids ahead.
    *
    * `partner` is the index's other sink (or its commit manifest), which
    * every append commits together with `root`. Compaction REFUSES while a
    * batch above the mark is committed in one of the two but not the
    * other (a crash between an append's two writes): compacting past it
    * would raise the mark over its id, and the replay's skip would then
    * leave that batch's rows missing from `root` forever. Ids at or below
    * the mark were all absorbed complete, so only ids above it can be
    * such orphans. A root of ≤ 1 batch is left as it is.
    *
    * Not atomic: a crash mid-swap can lose `root`, which is DERIVED state
    * rebuildable from its source; run compaction in the maintenance
    * window, never the serving path, and never concurrently with
    * appends. */
  def compact(root: String, partner: String)(merged: => DataFrame): Unit = {
    val mark = compactedThrough(root)
    def done(r: String) =
      batchIds(r).filter(id => id > mark && committed(r, id)).toSet
    val (mine, theirs) = (done(root), done(partner))
    val orphans = (mine diff theirs) ++ (theirs diff mine)
    require(orphans.isEmpty,
      s"compaction of $root: batch(es) ${orphans.toSeq.sorted.mkString(",")}" +
        s" are committed in only one of $root and $partner (a crash between" +
        " an append's two writes?) — replay them with the same batchId" +
        " before compacting")
    val ids = batchIds(root)
    if (ids.size <= 1) return
    val tmp = root + "_compact_tmp"
    Scratch.track(tmp)
    merged.write.mode("overwrite").parquet(tmp)
    IndexFs.delete(root)
    IndexFs.mkdirs(root)
    IndexFs.rename(tmp, batchDir(root, ids.max))
    IndexFs.writeString(s"$root/_COMPACTED", ids.max.toString)
  }
}
