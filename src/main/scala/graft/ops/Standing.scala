package graft.ops

import org.apache.spark.sql.DataFrame

/** The one engine under every standing index (gram, shingle, bucketed
  * shingle, semantic dedup, PQ, IVF-PQ): its validity marker, its batch
  * protocol and its lifecycle decisions, one definition each.
  *
  *  - marker: after a completed build, `_GRAFT_VALID` in the index root
  *    holds a FINGERPRINT of the source (file stats of every input file
  *    — no Spark job; any rewrite of the inputs changes it) plus a small
  *    payload (ingest counters, model). It is written AFTER the build, so
  *    a crash mid-build leaves none and the next call rebuilds; a torn
  *    read fails the compare and rebuilds too. The underscore keeps it
  *    out of Spark's file index.
  *  - build or reuse: [[ensure]].
  *  - layout: batch `id` of a root is the subdirectory `batch_<id>`
  *    ([[batchDir]], [[batchIds]]), read back by recursive lookup;
  *  - commit: a batch dir holding `_SUCCESS` ([[committed]]) — Spark's
  *    parquet writer drops it at job commit, and [[commit]] writes it for
  *    a manifest root whose batch data lives elsewhere;
  *  - append: which sinks of a batch still need writing ([[appendBatch]]);
  *  - auto ids: durable claims under `_claims` ([[claimBatchId]]);
  *  - compaction: the merge of a root's batches into one ([[compact]]),
  *    the `_COMPACTED` high-water mark it leaves ([[compactedThrough]]),
  *    the guard that refuses while a batch is committed in one sink of an
  *    index but not the other, and the directory [[swap]] every
  *    compaction ends in.
  *
  * All I/O goes through [[IndexFs]] (Hadoop `FileSystem` API), so roots
  * and sources may live on any Hadoop-supported store, within IndexFs's
  * declared atomicity scope.
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

  /** The marker's (fingerprint, payload) regardless of fingerprint — for
    * MAINTENANCE operations (incremental appends) that must read the
    * standing model and rewrite its payload under the SAME fingerprint:
    * an append changes the index contents but not the source the
    * fingerprint guards, so a SOURCE rewrite still forces the full
    * rebuild. */
  def current(root: String): Option[(String, String)] =
    IndexFs.readStringOpt(marker(root)).map { text =>
      val lines = text.split("\n", 2)
      (lines.head, if (lines.length > 1) lines(1) else "")
    }

  /** Record a completed build of `root` for source fingerprint `fp`,
    * with the payload the reuse path hands back. Call ONLY after every
    * sink of the build is fully written. */
  def markValid(root: String, fp: String, payload: String): Unit =
    IndexFs.writeString(marker(root), fp + "\n" + payload)

  /** BUILD OR REUSE, the one definition every standing index calls.
    * When `root`'s marker matches `fp`, returns the stored payload and
    * runs nothing. Otherwise it drops the marker FIRST (a crash mid-clean
    * then never leaves one blessing a half-cleaned root), then every
    * stale batch dir and the claims (appends made under an older source
    * or model must not survive into the new build), runs `build`, which
    * must fully write the index and return its payload, and records that
    * payload. Callers parse the returned payload on both branches, so a
    * build hands back exactly what a later reuse will. The cleanup lists
    * one root that is absent or about to be overwritten and starts no
    * Spark job. */
  def ensure(root: String, fp: String)(build: => String): String =
    current(root).collect { case (`fp`, payload) => payload }.getOrElse {
      IndexFs.delete(marker(root))
      IndexFs.childNames(root, dirsOnly = true)
        .filter(n => n.startsWith("batch_") || n == "_claims")
        .foreach(n => IndexFs.delete(s"$root/$n"))
      val payload = build
      markValid(root, fp, payload)
      payload
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

  /** APPEND batch `id` of an index to those of its `sinks` (each a root
    * and the write of the batch's rows into it) that still need it — the
    * one replay rule of every batch-dir index. A sink is skipped when it
    * already committed `id` ([[committed]]), or when its compaction
    * absorbed `id` (`id <= compactedThrough(root)`: re-emitting the rows
    * would count them twice). Each write must be idempotent per id (an
    * overwrite of the batch's own dir or partition), so a replay after a
    * crash between two sinks repairs exactly the missing one. `rows` is
    * persisted once, and only when more than one sink will read it. */
  def appendBatch(id: Long, rows: DataFrame)
                 (sinks: (String, DataFrame => Unit)*): Unit = {
    val todo = sinks.filterNot { case (root, _) =>
      committed(root, id) || id <= compactedThrough(root) }
    val shared = todo.size > 1
    val r = if (shared) rows.persist() else rows
    try todo.foreach { case (_, write) => write(r) }
    finally if (shared) { r.unpersist(); () }
  }

  /** The write of a plain batch sink: `rows` overwrite batch `id`'s dir
    * under `root`. */
  def writeBatch(root: String, id: Long): DataFrame => Unit =
    _.write.mode("overwrite").parquet(batchDir(root, id))

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
    * after the highest id, with that id recorded as the `_COMPACTED`
    * mark, and [[swap]] it in. `merged` must read the whole of `root`.
    * Keeping the highest id keeps later auto ids ahead. Nothing else in
    * `root` survives (its claims never live in a compacted root).
    *
    * `partner` is the index's other sink (or its commit manifest), which
    * every append commits together with `root`. Compaction REFUSES while a
    * batch above the mark is committed in one of the two but not the
    * other (a crash between an append's two writes): compacting past it
    * would raise the mark over its id, and the replay's skip would then
    * leave that batch's rows missing from `root` forever. Ids at or below
    * the mark were all absorbed complete, so only ids above it can be
    * such orphans. A root of ≤ 1 batch is left as it is. Maintenance
    * window only, never concurrently with appends. */
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
    swap(root) { tmp =>
      merged.write.mode("overwrite").parquet(batchDir(tmp, ids.max))
      IndexFs.writeString(s"$tmp/_COMPACTED", ids.max.toString)
    }
  }

  /** The one directory SWAP every compaction ends in: `write` fills a
    * fresh tmp dir (reading `root` as it likes), then `root` is renamed
    * aside, the tmp renamed in, and the old root deleted. Each rename is
    * atomic on local and HDFS roots (IndexFs's declared scope), so a
    * crash leaves either the old root or the new one in place, except
    * between the two renames, where it leaves NO root: safe, not lossy,
    * because every index is DERIVED state and the next ensure finds no
    * marker and rebuilds from its source. */
  def swap(root: String)(write: String => Unit): Unit = {
    val (tmp, old) = (root + "_compact_tmp", root + "_replaced")
    Scratch.track(tmp)
    IndexFs.delete(tmp)
    IndexFs.delete(old)
    write(tmp)
    IndexFs.rename(root, old)
    IndexFs.rename(tmp, root)
    IndexFs.delete(old)
  }
}
