package graft

import java.io.File

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{ArtifactStore, Artifacts}

/** The parquet artifact store (directive: memo artifacts must survive a
  * session): with `spark.graft.artifactDir` set, a COLD session — memo
  * maps empty, only the store on disk — must serve q122/q125 from the
  * stored artifact with zero corpus scans, value-identical to the warm
  * run; and the corpus-signature staleness check must invalidate the
  * store when the corpus changes.
  *
  * All store/corpus paths here carry an explicit Hadoop scheme
  * (`file:`, plus a registered non-local stand-in scheme) — the store
  * resolves every filesystem operation through the Hadoop
  * [[org.apache.hadoop.fs.FileSystem]] API, so an `hdfs://`/`s3a://`
  * deployment exercises exactly the code paths pinned here.
  */
class ArtifactStoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val d = "/root/testdata/sf0.001"

  private def storedDir(root: String, corpus: String, name: String): Boolean =
    ArtifactStore.isStored(root, corpus, name)

  test("cold session serves q122/q125 from the store, not documents.parquet") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-artifacts").toFile.getAbsolutePath
    // explicit file: scheme — the store must work through the Hadoop
    // FileSystem resolution chain, not java.io.File assumptions
    spark.conf.set(ArtifactStore.DirConf, s"file:$tmp")
    try {
      Artifacts.clearAll()
      // warm run: builds the artifacts and persists them
      val warm122 = SparkEntry
        .queries("q122_winnow_fingerprints")(spark, d)
        .orderBy("doc_id").collect().toSeq
      val warm125 = SparkEntry
        .queries("q125_contamination_attribution")(spark, d)
        .collect().toSeq
      assert(storedDir(s"file:$tmp", d, "winnow_stats"),
        "winnow artifact stored")
      assert(storedDir(s"file:$tmp", d, "leak_grams"),
        "leak artifact stored")

      // cold session: memo maps emptied; only the store remains
      Artifacts.clearAll()
      val q122 = SparkEntry.queries("q122_winnow_fingerprints")(spark, d)
      val q125 = SparkEntry.queries("q125_contamination_attribution")(spark, d)
      val p122 = q122.queryExecution.executedPlan.toString
      val p125 = q125.queryExecution.executedPlan.toString
      assert(!p122.contains("documents.parquet"),
        "cold q122 must scan the stored artifact, not the corpus")
      assert(p122.contains(tmp), "cold q122 must scan the artifact store")
      assert(!p125.contains("documents.parquet"),
        "cold q125 must scan the stored artifact, not the corpus")
      assert(p125.contains(tmp), "cold q125 must scan the artifact store")
      assert(q122.orderBy("doc_id").collect().toSeq == warm122,
        "stored-artifact q122 must be value-identical to the warm run")
      assert(q125.collect().toSeq == warm125,
        "stored-artifact q125 must be value-identical to the warm run")
    } finally {
      spark.conf.set(ArtifactStore.DirConf, "")
      Artifacts.clearAll()
      ArtifactStore.deleteTree(new File(tmp))
    }
  }

  test("cold session reuses every pair/score/model artifact family") {
    import graft.queries.{ClusterMemo, LmMemo, RetrievalMemo}
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-artifacts-all").toFile.getAbsolutePath
    spark.conf.set(ArtifactStore.DirConf, s"file:$tmp")
    try {
      def families = Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "scored_pairs" -> (() => ClusterMemo.scoredPairs(spark, d)),
        // the simhash family is keyed by its adaptive width AND the
        // radius that rides it (the r10/r11 semantics-versioning fixes)
        // — derive the names the memos themselves will use for this
        // corpus. Since r11 the stored granularity is the two bounded
        // FACTORS (sketch column + sig-level ball pairs); the doc-pair
        // product (q43's result, ClusterMemo.simhashPairs) is derived,
        // so exercising it covers both stores.
        {
          val w = graft.dedup.DedupOps.adaptiveSimhashWidth(
            graft.queries.Tables.documents(spark, d).count())
          s"simhash_sigs_w$w"
        } -> (() => ClusterMemo.simhashPairs(spark, d)),
        {
          val w = graft.dedup.DedupOps.adaptiveSimhashWidth(
            graft.queries.Tables.documents(spark, d).count())
          s"simhash_sigpairs_w${w}d${graft.dedup.DedupOps.adaptiveSimhashDist(w)}"
        } -> (() => ClusterMemo.simhashPairs(spark, d)),
        "exact_pairs" -> (() => ClusterMemo.exactPairs(spark, d)),
        "bm25_scores" -> (() => RetrievalMemo.bm25(spark, d)),
        "trigram_counts" -> (() => LmMemo.trigramCounts(spark, d)))
      Artifacts.clearAll()
      val warm = families.map { case (n, f) => n -> f().count() }.toMap
      for ((n, _) <- families)
        assert(storedDir(s"file:$tmp", d, n), s"$n stored")
      Artifacts.clearAll() // cold session: only the store remains
      for ((n, f) <- families) {
        val df = f()
        assert(df.queryExecution.executedPlan.toString.contains(tmp),
          s"cold $n must read the store")
        assert(df.count() == warm(n),
          s"cold $n must be value-identical to the warm build")
      }
    } finally {
      spark.conf.set(ArtifactStore.DirConf, "")
      Artifacts.clearAll()
      ArtifactStore.deleteTree(new java.io.File(tmp))
    }
  }

  test("corpus signature tracks file content changes (staleness check)") {
    val corpus = java.nio.file.Files
      .createTempDirectory("graft-corpus").toFile
    val sub = new File(corpus, "documents.parquet")
    assert(sub.mkdirs())
    val f = new File(sub, "part-0.parquet")
    java.nio.file.Files.writeString(f.toPath, "v1")
    val sig1 = ArtifactStore.corpusSig(corpus.getAbsolutePath)
    assert(sig1 == ArtifactStore.corpusSig(corpus.getAbsolutePath),
      "signature is deterministic")
    // scheme-qualified and bare spellings of the same local corpus
    // must agree (entries are recorded scheme-free)
    assert(sig1 == ArtifactStore.corpusSig(s"file:${corpus.getAbsolutePath}"),
      "file:-qualified path signs identically to the bare path")
    java.nio.file.Files.writeString(f.toPath, "v2-longer")
    val sig2 = ArtifactStore.corpusSig(corpus.getAbsolutePath)
    assert(sig1 != sig2, "a changed file must change the signature")
    java.nio.file.Files.writeString(new File(sub, "part-1.parquet").toPath,
      "new shard")
    val sig3 = ArtifactStore.corpusSig(corpus.getAbsolutePath)
    assert(sig2 != sig3, "a new file must change the signature")
    ArtifactStore.deleteTree(corpus)
  }

  test("an empty or missing corpus fails fast instead of signing nothing") {
    // md5 of an empty listing is a CONSTANT: were it accepted, the
    // staleness check would be inert and a stale artifact would serve
    // as fresh forever — exactly the failure mode for a mistyped or
    // unmounted corpus path on a cluster
    val empty = java.nio.file.Files
      .createTempDirectory("graft-empty-corpus").toFile
    try {
      intercept[IllegalArgumentException] {
        ArtifactStore.corpusSig(empty.getAbsolutePath)
      }
      intercept[java.io.FileNotFoundException] {
        ArtifactStore.corpusSig(new File(empty, "no-such-dir").getAbsolutePath)
      }
    } finally ArtifactStore.deleteTree(empty)
  }

  test("a stale-signature artifact is superseded and pruned on rebuild") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-artifacts2").toFile.getAbsolutePath
    val root = s"file:$tmp"
    spark.conf.set(ArtifactStore.DirConf, root)
    val corpus = java.nio.file.Files
      .createTempDirectory("graft-corpus2").toFile
    val f = new File(corpus, "data.txt")
    try {
      java.nio.file.Files.writeString(f.toPath, "v1")
      val a1 = ArtifactStore.loadOrBuild(spark, corpus.getAbsolutePath, "t")(
        spark.range(3).select(col("id")))
      assert(a1.count() == 3)
      assert(storedDir(root, corpus.getAbsolutePath, "t"))
      val p1 = ArtifactStore.pathFor(root, corpus.getAbsolutePath, "t")
      java.nio.file.Files.writeString(f.toPath, "v2-longer")
      val a2 = ArtifactStore.loadOrBuild(spark, corpus.getAbsolutePath, "t")(
        spark.range(5).select(col("id")))
      assert(a2.count() == 5, "stale store must rebuild, not serve v1")
      assert(!new File(p1.toUri.getPath).exists,
        "superseded signature dir is pruned")
      // a SECOND corpus sharing the store must not be pruned as a
      // stale version of the first (identity vs version keying)
      val corpus2 = java.nio.file.Files
        .createTempDirectory("graft-corpus3").toFile
      java.nio.file.Files.writeString(
        new File(corpus2, "data.txt").toPath, "other corpus")
      val b1 = ArtifactStore.loadOrBuild(
        spark, corpus2.getAbsolutePath, "t")(
        spark.range(7).select(col("id")))
      assert(b1.count() == 7)
      val a3 = ArtifactStore.loadOrBuild(
        spark, corpus.getAbsolutePath, "t")(
        sys.error("corpus 1 artifact must still be served from disk"))
      assert(a3.count() == 5,
        "building corpus 2's artifact must not prune corpus 1's")
      ArtifactStore.deleteTree(corpus2)
    } finally {
      spark.conf.set(ArtifactStore.DirConf, "")
      ArtifactStore.deleteTree(new File(tmp))
      ArtifactStore.deleteTree(corpus)
    }
  }

  test("a non-local filesystem scheme is accepted end to end") {
    import org.apache.spark.sql.functions._
    // graftfs:// — a RawLocalFileSystem stand-in registered under a
    // foreign scheme, so NOTHING in the store can fall back to
    // java.io.File path semantics: listing (corpus signature), the
    // _SUCCESS freshness probe, the temp-dir commit rename, pruning and
    // the parquet write/read all resolve through FileSystem.get on a
    // URI whose scheme is not `file`
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-artifacts-scheme").toFile.getAbsolutePath
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft-corpus-scheme").toFile
    java.nio.file.Files.writeString(
      new File(corpusDir, "data.txt").toPath, "payload")
    val root = s"graftfs:$tmp"
    val corpus = s"graftfs:${corpusDir.getAbsolutePath}"
    spark.conf.set(ArtifactStore.DirConf, root)
    try {
      val a1 = ArtifactStore.loadOrBuild(spark, corpus, "t")(
        spark.range(4).select(col("id")))
      assert(a1.count() == 4)
      assert(a1.queryExecution.executedPlan.toString.contains("graftfs:"),
        "the served frame must read through the foreign scheme")
      assert(storedDir(root, corpus, "t"))
      val a2 = ArtifactStore.loadOrBuild(spark, corpus, "t")(
        sys.error("fresh artifact must be served, not rebuilt"))
      assert(a2.count() == 4)
    } finally {
      spark.conf.set(ArtifactStore.DirConf, "")
      ArtifactStore.deleteTree(new File(tmp))
      ArtifactStore.deleteTree(corpusDir)
    }
  }

  test("a partial commit (no _SUCCESS) is repaired, and stale temp dirs swept") {
    import org.apache.spark.sql.functions._
    import org.apache.hadoop.fs.Path
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-artifacts-repair").toFile.getAbsolutePath
    val root = s"file:$tmp"
    spark.conf.set(ArtifactStore.DirConf, root)
    try {
      val conf = spark.sessionState.newHadoopConf()
      val path = ArtifactStore.pathFor(root, d, "repair_t", conf)
      val fs = path.getFileSystem(conf)
      // a crashed writer on a non-atomic-rename store (s3a) leaves the
      // FINAL dir with part-files and no _SUCCESS — the store must
      // rebuild over it, never serve it
      fs.mkdirs(path)
      val junk = new Path(path, "part-00000-junk.parquet")
      val out = fs.create(junk); out.write(Array[Byte](1, 2, 3)); out.close()
      // and a crashed writer's orphaned temp dir, old enough to sweep
      val orphan = new Path(path.getParent, ".inprogress-crashed-1-1")
      fs.mkdirs(orphan)
      fs.setTimes(orphan,
        System.currentTimeMillis() - ArtifactStore.OrphanTempMaxAgeMs - 1000, -1)

      val served = ArtifactStore.loadOrBuild(spark, d, "repair_t")(
        spark.range(3).select(col("id")))
      assert(served.count() == 3,
        "the partial dir must be repaired by a rebuild, not served")
      assert(fs.exists(new Path(path, "_SUCCESS")),
        "the repaired artifact must carry _SUCCESS")
      assert(!fs.exists(junk), "the partial part-file must be gone")
      assert(!fs.exists(orphan),
        "a stale .inprogress temp dir must be swept on the next commit")
    } finally {
      spark.conf.set(ArtifactStore.DirConf, "")
      ArtifactStore.deleteTree(new File(tmp))
    }
  }

  test("deleteTree deletes a symlink itself, never its target's contents") {
    val target = java.nio.file.Files.createTempDirectory("graft-linktarget")
    val keep = target.resolve("keep.txt")
    java.nio.file.Files.writeString(keep, "must survive")
    val treeRoot = java.nio.file.Files.createTempDirectory("graft-tree")
    java.nio.file.Files.createSymbolicLink(
      treeRoot.resolve("link.parquet"), target)
    try {
      ArtifactStore.deleteTree(treeRoot.toFile)
      assert(!java.nio.file.Files.exists(treeRoot), "tree root deleted")
      assert(java.nio.file.Files.exists(keep),
        "the symlink TARGET's contents must be untouched")
    } finally ArtifactStore.deleteTree(target.toFile)
  }
}
