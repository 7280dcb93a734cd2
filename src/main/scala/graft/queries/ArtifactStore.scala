package graft.queries

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet persistence for the session memo artifacts (words, gram
  * keys, winnow selection, cluster labels, band index, LM counts, BM25
  * scores).
  *
  * The r4–r7 memos pin their artifact with `localCheckpoint` — executor
  * block storage, lost on executor death or session end. That is the
  * right default for a one-shot local run, but a production pipeline
  * STORES these tables (the q128 shard-register fold already proves the
  * economics: fold the stored artifact, never re-scan the corpus).
  * Setting
  *
  *   spark.graft.artifactDir=/path/to/store
  *
  * upgrades every memo to write-once parquet keyed by artifact name AND
  * a corpus signature (name/size/mtime of every data file under the
  * sfDir), so:
  *   - a FRESH session reuses the stored artifact with zero corpus
  *     scans (PlanShapeSpec pins q122/q125 cold-session plans reading
  *     the store, not documents.parquet);
  *   - executor loss replays from durable parquet instead of re-running
  *     the producer lineage (localCheckpoint's documented weakness at
  *     cluster scale);
  *   - a corpus change (new files, new mtimes) changes the signature,
  *     so a stale artifact can never serve — the staleness check is
  *     structural, not TTL-based. Stale signature dirs of the same
  *     artifact are deleted best-effort on the next write.
  *
  * All filesystem access (corpus listing, freshness probe, commit,
  * pruning) goes through the Hadoop [[FileSystem]] API resolved from
  * the path's own scheme, so the store works unchanged when the corpus
  * and/or the store live on `hdfs://`/`s3a://` — the actual 100 TB
  * setting — not only on the local disk a `java.io.File` walk could
  * see. A corpus path that resolves to zero regular files fails fast
  * (an empty signature would freeze the staleness check and serve a
  * stale artifact forever).
  *
  * Unset (the default), behavior is byte-identical to r7: the build
  * plan is localCheckpointed and session-scoped.
  */
object ArtifactStore {

  val DirConf = "spark.graft.artifactDir"

  def dirOf(s: SparkSession): Option[String] =
    Option(s.conf.get(DirConf, "")).filter(_.nonEmpty)

  /** The Hadoop configuration that resolves filesystem schemes: the
    * active session's (so `spark.hadoop.*` / cluster core-site settings
    * apply — s3a credentials, hdfs nameservices), or a vanilla
    * [[Configuration]] when no session is up (spec-level signature
    * calls).
    */
  private def hconf: Configuration =
    SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** Corpus signature: md5 over (path, size, mtime) of every regular
    * file under `d`, RECURSIVELY — nested layouts (Hive-partitioned
    * `table/date=.../part.parquet`) must contribute their leaf files,
    * not just the partition directory entries (a directory's own mtime
    * does not reliably change when a file inside is rewritten in
    * place). Listing is metadata-only — no data read — and runs
    * through `FileSystem.listFiles(recursive = true)`, one round-trip
    * batch listing on object stores. A corpus with NO regular files is
    * an error, not an empty signature: md5("") is a constant, so an
    * unreadable/mistyped corpus path would otherwise pin the first
    * artifact ever written as permanently fresh.
    */
  def corpusSig(d: String): String = corpusSig(d, hconf)

  /** As [[corpusSig]] but resolving the filesystem with a SPECIFIC
    * Hadoop configuration — callers that hold a session must pass its
    * `sessionState.newHadoopConf()` so the session's own
    * `spark.hadoop.*` settings (s3a credentials, fs.defaultFS) apply
    * even when it is not the ACTIVE session of the JVM.
    */
  def corpusSig(d: String, conf: Configuration): String = {
    val p = new Path(d)
    val fs = p.getFileSystem(conf)
    val it = fs.listFiles(p, true)
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile)
        entries += s"${st.getPath.toUri.getPath}|${st.getLen}|${st.getModificationTime}"
    }
    require(entries.nonEmpty,
      s"artifact store: corpus '$d' lists no regular files — refusing " +
        "to sign an empty corpus (the signature would be a constant and " +
        "the staleness check inert)")
    val sig = entries.sorted.mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Corpus-identity key: artifacts of DIFFERENT corpora sharing one
    * store must not collide or prune each other — the signature alone
    * encodes identity AND version, so pruning by sibling sig would
    * delete a sibling corpus's artifacts (and break any live plan
    * reading them). Keying the directory by the fully-qualified corpus
    * URI keeps pruning scoped to versions of the SAME corpus (and keeps
    * `hdfs://ns/x` distinct from `s3a://bucket/x`).
    */
  private def corpusKey(d: String, conf: Configuration): String = {
    val p = new Path(d)
    val qualified = p.getFileSystem(conf).makeQualified(p).toString
    java.security.MessageDigest.getInstance("MD5")
      .digest(qualified.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
  }

  /** Load `name` from the store if a fresh copy exists, else run
    * `build`, persist it, and read the persisted copy back (so the
    * returned frame's lineage IS the store — consumers replay from
    * parquet, never from the producer plan). With no store configured,
    * pin with a SERIALIZED localCheckpoint: the default
    * (MEMORY_AND_DISK, deserialized) holds every pinned row as a live
    * UnsafeRow OBJECT in block-manager object arrays — at the ×100
    * scale rung the 140M-row scored-pair artifact became 57M live
    * UnsafeRows / 18.8 GB of byte[] that no full GC could reclaim, and
    * q50 measured a GC WALL then OOMed a 24 GB heap (jmap-diagnosed,
    * round 11; the band-shipping rewrite had fixed the SHUFFLE cost,
    * this was the remaining memoization cost). MEMORY_AND_DISK_SER
    * stores each partition as one serialized byte chunk — no per-row
    * objects, GC-invisible, spills cleanly. The sf0.1 board price is
    * real but bounded: the largest artifact producers pay the
    * serialize+materialize pass (q43's 6.6M-row pair pin measures
    * ~2-3 s over its ~2.5 s compute; tools/ProbeR3 at
    * commit c8aa06f) — the explicit
    * price of the ×100 rung completing at all.
    *
    * Commit is write-to-temp + atomic rename: two JVMs racing on the
    * same signature dir cannot interleave an `overwrite` delete/commit
    * (which could leave one writer's partial part-files beside the
    * other's `_SUCCESS`). The loser of the rename race discards its
    * temp dir and reads the winner's identical data. On stores whose
    * rename is NOT atomic (s3a rename is copy+delete) a writer killed
    * mid-rename can leave the final dir with part-files and no
    * `_SUCCESS`; that state is REPAIRED (deleted and rebuilt) on the
    * next access, never served, and a commit that somehow leaves no
    * `_SUCCESS`-bearing copy fails loudly instead of returning a
    * partial artifact. Crashed writers' orphaned `.inprogress-*` temp
    * dirs are swept once they are older than [[OrphanTempMaxAgeMs]]
    * (young ones may be a live writer's). One more race shape is
    * handled explicitly: a loser whose rename lands AFTER the winner's
    * commit has its temp moved INSIDE the committed dir (Hadoop rename
    * onto an existing directory nests the source and reports success)
    * — the nested temp is detected right after the rename and
    * reclaimed, and commits additionally sweep nested `.inprogress-*`
    * dirs left by a loser that crashed before its own reclaim.
    *
    * `eager` affects ONLY the no-store (localCheckpoint) path — with a
    * store configured the artifact is always written and read back
    * eagerly, and the flag is ignored. `eager = false` is safe ONLY
    * when the first consuming PLAN references the artifact once: a
    * plan that references it twice (e.g. both sides of a self-join)
    * would race concurrent stages into computing the same unpinned
    * partitions and duplicate the build — re-check that invariant at
    * every new eager = false call site.
    */
  def loadOrBuild(s: SparkSession, d: String, name: String,
                  eager: Boolean = true)
                 (build: => DataFrame): DataFrame =
    dirOf(s) match {
      case None =>
        // eager = false (r11, guide §1.2-1 "don't compute things you
        // throw away"): an EAGER pin runs the build as its own job
        // (compute + serialize) and the first consumer then pays a full
        // deserialize pass — two passes over the artifact where one
        // suffices. A LAZY pin materializes inside the first consuming
        // job: rows stream through serialization INTO the block store
        // and onward into the consumer in one pass (Spark fills any
        // partitions that first job skipped at job end, so the pin is
        // still complete). Callers keep eager = true for artifacts the
        // first consuming PLAN references more than once (e.g. both
        // sides of a self-join): concurrent stages of one job would
        // otherwise race to compute the same unpinned partitions and
        // duplicate the build.
        build.localCheckpoint(eager,
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      case Some(root) =>
        val conf = s.sessionState.newHadoopConf()
        val path = pathFor(root, d, name, conf)
        val fs = path.getFileSystem(conf)
        val base = path.getParent
        // striped in-JVM lock: two sessions in one JVM (parallel test
        // suites, notebook + job) building the same artifact must not
        // both pay the build; cross-JVM the rename race below decides
        val lock = writeLocks.getOrElseUpdate(
          fs.makeQualified(path).toString, new Object)
        lock.synchronized {
          val success = new Path(path, "_SUCCESS")
          // a crashed writer on a non-atomic-rename store can leave the
          // final dir WITHOUT _SUCCESS — repair (delete) it, never
          // serve it. The _SUCCESS probe is RE-TAKEN right before the
          // destructive delete: a concurrent JVM can commit between the
          // outer check and here, and an unconditional delete would
          // destroy that fresh commit — failing the winner's own
          // post-rename require and yanking the dir from under any
          // third-session reader. A commit observed on re-probe skips
          // the build entirely and serves the winner's data; the
          // residual TOCTOU is the probe→delete gap, the best a
          // non-transactional FileSystem offers.
          val committedMeanwhile = fs.exists(path) && fs.exists(success)
          if (!fs.exists(success) && !committedMeanwhile) {
            if (fs.exists(path)) fs.delete(path, true)
            // unique temp sibling: hidden (leading dot) so a concurrent
            // reader's partition discovery and the prune below skip it
            val tmp = new Path(base,
              s".inprogress-${path.getName}-${ProcessHandle.current.pid}-${System.nanoTime}")
            build.write.mode("overwrite").parquet(tmp.toString)
            var committed = !fs.exists(path) && fs.rename(tmp, path)
            if (committed) {
              // cross-JVM race window between the exists check and the
              // rename: if another writer committed in between, Hadoop
              // rename moves tmp INSIDE the now-existing path and still
              // returns true — this "winner" actually lost, and its
              // corpus-sized temp sits nested where readers skip it but
              // the base-level orphan sweep never looks. Detect the
              // nested shape, reclaim it, and serve the real winner's
              // data like any other race loser.
              val nested = new Path(path, tmp.getName)
              if (fs.exists(nested)) {
                fs.delete(nested, true)
                committed = false
              }
            }
            if (!committed) fs.delete(tmp, true) // lost the race; winner's data is identical
            require(fs.exists(new Path(path, "_SUCCESS")),
              s"artifact store: commit of '$name' left no _SUCCESS at " +
                s"$path — refusing to serve a partial artifact")
            val now = System.currentTimeMillis()
            fs.listStatus(base).foreach { st =>
              val n = st.getPath.getName
              if (st.isDirectory && n != path.getName) {
                // prune superseded corpus versions (best-effort;
                // concurrent readers of an old sig rebuild next session)
                if (!n.startsWith(".")) fs.delete(st.getPath, true)
                // sweep crashed writers' orphaned temp dirs: a live
                // writer's temp is younger than the age bound
                else if (n.startsWith(".inprogress-") &&
                    now - st.getModificationTime > OrphanTempMaxAgeMs)
                  fs.delete(st.getPath, true)
              }
            }
            // a race loser that crashed between its nested rename and
            // the reclaim above leaves its temp INSIDE the committed
            // dir; only a COMPLETED rename creates that shape, so
            // nested `.inprogress-*` dirs are definitionally dead —
            // sweep them without an age bound
            fs.listStatus(path).foreach { st =>
              if (st.isDirectory &&
                  st.getPath.getName.startsWith(".inprogress-"))
                fs.delete(st.getPath, true)
            }
          }
        }
        s.read.parquet(path.toString)
    }

  /** Orphaned `.inprogress-*` temp dirs older than this are swept on
    * the next commit to the same artifact/corpus (a crashed writer's
    * corpus-sized garbage must not accumulate unboundedly on the
    * store); younger ones are presumed to belong to a live writer.
    */
  val OrphanTempMaxAgeMs: Long = 60L * 60 * 1000

  /** The store path of artifact `name` for corpus `d`:
    * `<root>/<name>/<corpus key>/<corpus signature>`.
    */
  def pathFor(root: String, d: String, name: String): Path =
    pathFor(root, d, name, hconf)

  /** As the 3-arg [[pathFor]] with an explicit Hadoop configuration
    * (see the [[corpusSig]] overload note).
    */
  def pathFor(root: String, d: String, name: String,
              conf: Configuration): Path =
    new Path(new Path(new Path(root, name), corpusKey(d, conf)),
      corpusSig(d, conf))

  /** True iff a committed (`_SUCCESS`-bearing) copy of `name` for
    * corpus `d` exists in the store rooted at `root`.
    */
  def isStored(root: String, d: String, name: String): Boolean = {
    val p = pathFor(root, d, name)
    p.getFileSystem(hconf).exists(new Path(p, "_SUCCESS"))
  }

  private val writeLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  /** Best-effort recursive delete (test/tool cleanup). NEVER follows a
    * symlink: `listFiles` on a link-to-directory returns the TARGET's
    * children, and the Scale10 corpus dir links straight into the
    * read-only testdata — the link itself is deleted, its target left
    * untouched.
    */
  def deleteTree(f: java.io.File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
    ()
  }
}
