package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Verify}
import scala.util.control.NonFatal

/** One measured 10× scale point for the heavy tail (judge directive
  * r9-#5): ScaleSpec plants adversarial STRUCTURES, but no board query
  * had ever run above sf0.1 — this main builds a deterministic ×10
  * inflation of `documents` and `events` under `target/scale10/` and
  * times the heaviest board queries at sf0.1 and at ×10, emitting the
  * per-query scaling exponent log10(t10/t1) (1.0 = linear) to
  * `SCALE10.json`.
  *
  * Inflation shape — copies must be DISJOINT corpora, not duplicates:
  * ten verbatim copies would multiply every gram's document frequency
  * by 10, EMPTYING the rare-gram families (df ∈ [2,5] finds nothing)
  * and exploding every LSH bucket with 10-way mutual near-dups — an
  * adversarial skew test, not a scale test. Copy k > 0 applies a
  * per-copy letter permutation from the affine-cipher family
  * ([[permutation]]; Caesar rotation is its a = 1 slice, and the full
  * family keeps copies pairwise distinct past the 26 rotations a ×30
  * run needs): the mapping is injective, so every
  * per-copy structure — token lengths, word frequencies, gram dfs,
  * shingle sets, near-dup pairs, exact-dup groups — matches the
  * original EXACTLY, while every character 5-shingle containing a
  * letter differs across copies, so MinHash signatures, LSH bands,
  * gram keys and fingerprints are all copy-disjoint and the ×10 corpus
  * behaves like ten shards of fresh data — which is what 100 TB IS.
  * (The first cut suffixed each TOKEN with a copy marker; that leaves
  * most intra-word character shingles shared, cross-copy MinHash
  * signatures collide, every LSH bucket holds all ten copies of its
  * members, and pair generation explodes ~100× — an inflation-scheme
  * artifact this run exists to avoid measuring.) Events keep their
  * timestamp distribution (10× denser windows — real scale) with
  * re-keyed event/user ids so bootstrap hash draws and per-user groups
  * stay well-formed. All other tables are symlinked unchanged.
  */
object Scale10 {

  val Copies = 10

  /** The letter permutation of copy `k` — an AFFINE cipher i → a·i + b
    * (mod 26) on letter indices, case-preserving. Copy 0 is (a,b) =
    * (1,0), the identity; Caesar rotation is the a = 1 slice. The full
    * affine family (12 units × 26 shifts = 312 distinct permutations)
    * exists because rotations alone ALIAS past k = 25 (rot(26) = rot(0)
    * — a ×30 inflation on rotations would duplicate four corpora
    * verbatim, the exact adversarial-duplicate artifact the rotation
    * scheme was built to avoid). Distinct (a,b) ⇒ distinct
    * permutations, injective per copy, length-preserving; an affine map
    * fixes at most gcd(a−1, 26) ≤ 2 letters, so 5-char shingles stay
    * copy-disjoint for real words (the same argument as rotation).
    *
    * Enumeration order matters: copies 0–25 are the PURE ROTATIONS
    * (a = 1, b = k), whose pairwise composed maps fix ZERO letters —
    * full copy-disjointness down to single-character tokens. The
    * multiplier-first order this replaced gave every copy k < 12 shift
    * b = 0, and all pure-multiplier maps fix 'a' (i = 0) and 'n'
    * (i = 13), so the common words "a"/"an" were verbatim-shared
    * across ALL copies of a ×10 run — their unigram df multiplied ×10
    * instead of staying copy-disjoint, skewing term-stat structures
    * (RM3 expansion, BPE vocab counts) in the scale measurement.
    * Rotation-first pays the ≤2-fixed-letter weakening only past copy
    * 26, where the rotation family is exhausted anyway.
    */
  def permutation(k: Int): (String, String) = {
    require(k >= 0 && k < 312, s"affine family supports 312 copies, got $k")
    val units = Array(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    // k = 0 must be the identity: a = 1 (units(0)) and b = 0
    val a = units(k / 26)
    val b = k % 26
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val mapped = (0 until 26).map(i => lower((a * i + b) % 26)).mkString
    val (digFrom, digTo) = digitPermutation(k)
    (lower + lower.toUpperCase + digFrom,
      mapped + mapped.toUpperCase + digTo)
  }

  /** The DIGIT permutation of copy `k` — an affine cipher on 0–9
    * (units mod 10 = {1,3,7,9}, 40 distinct maps, k = 0 the identity).
    *
    * Closes the one verbatim-duplication hole the letter family leaves:
    * a LETTER-FREE text (all digits/punctuation) is fixed by every
    * letter permutation, so its copies would be exact cross-copy
    * duplicates — the adversarial-duplicate artifact the scheme exists
    * to avoid. Rotating digits per copy (shift-first enumeration,
    * mirroring the letter family's rotation-first order) makes
    * digit-bearing texts copy-disjoint too; the family has 40 members,
    * so past ×40 letter-free docs duplicate only across ⌈n/40⌉-copy
    * groups. Punctuation/whitespace-only texts remain verbatim-shared
    * (no remap preserves their character classes) — exact duplicates a
    * production pipeline removes before LSH.
    *
    * Measured honesty note: this is HARDENING, not the explanation of
    * the fat LSH buckets in the scale runs. The >1000-member buckets
    * ProbePairGrowth (commit c8aa06f) found at ×10 (max 2049) were
    * unchanged by the
    * digit fix — member inspection showed each sits WITHIN one copy:
    * every permuted copy is an independent MinHash draw over the
    * testdata's ~40-word synthetic vocabulary, and a draw whose
    * globally-minimal shingles are common puts a large fraction of
    * that copy's docs in one bucket (the base corpus's own draw was a
    * lucky-small one, max bucket 138). Bucket size is bounded by the
    * PER-COPY doc count, so band-pair volume still grows linearly with
    * copies — intrinsic low-text-entropy LSH behavior, not an
    * inflation artifact.
    */
  def digitPermutation(k: Int): (String, String) = {
    val units = Array(1, 3, 7, 9)
    val m = k % 40
    val a = units(m / 10)
    val b = m % 10
    val digits = "0123456789"
    val mapped = (0 until 10).map(i => digits((a * i + b) % 10)).mkString
    (digits, mapped)
  }
  val Queries: Seq[String] = Seq(
    "q158_value_ci", "q50_neardup_clusters", "q86_containment_pairs",
    "q92_nb_lang_confusion", "q81_editdist_neardup",
    "q67_bloom_decontaminate", "q112_dup_spans", "q79_passage_dedup",
    "q96_dsir_weights", "q125_contamination_attribution",
    // round-9 heavy additions over the inflated `documents` corpus
    // (embeddings/lineitem-riding queries are excluded — those tables
    // are symlinked unchanged, so a 10x point would measure nothing)
    "q159_bloom_fpr_audit", "q153_filter_agreement", "q162_filter_kappa",
    "q43_simhash_hamming_pairs", "q122_winnow_fingerprints",
    "q127_winnow_families", "q111_rm3_expansion", "q169_bpe_tokenize")

  def inflate(spark: SparkSession, src: String, dst: String,
              nCopies: Int = Copies): Unit = {
    val dstDir = Paths.get(dst)
    // the marker must encode WHICH corpus (path + content signature) was
    // inflated: a bare "ok" would silently reuse the previous corpus's
    // inflation after SPARK_GRAFT_SF_DIR changes, and every exponent
    // would compare a t1 on the new corpus against a t10 of the old one
    val marker = dstDir.resolve("_SCALE10_OK")
    // "affine-rot1st" versions the PERMUTATION SCHEME into the stamp:
    // the enumeration-order fix changed what each copy k contains, and
    // an unversioned stamp would silently serve a corpus inflated
    // under the old ordering
    val stamp =
      s"$src|x$nCopies|affine-rot1st-digrot|" +
        s"${graft.queries.ArtifactStore.corpusSig(src)}\n"
    if (Files.exists(marker) && Files.readString(marker) == stamp) return
    if (Files.exists(dstDir)) {
      graft.queries.ArtifactStore.deleteTree(dstDir.toFile)
    }
    Files.createDirectories(dstDir)

    val copies = spark.range(0, nCopies).select(col("id").cast("int").as("k"))

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val docMax = 10000000L
    def perm(k: Int): Column = {
      val (from, to) = permutation(k)
      translate(col("text"), from, to)
    }
    val textOut = (1 until nCopies).foldLeft(
      when(col("k") === 0, col("text"))) { (acc, k) =>
      acc.when(col("k") === k, perm(k))
    }
    docs.crossJoin(broadcast(copies))
      .select(
        (col("doc_id") + col("k").cast("long") * docMax).as("doc_id"),
        textOut.as("text"),
        col("lang"), col("source"),
        // letter rotation preserves length exactly
        col("n_chars"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")

    val events = spark.read.parquet(s"$src/events.parquet")
    val evMax = 1000000000L
    events.crossJoin(broadcast(copies))
      .select(
        (col("event_id") + col("k").cast("long") * evMax).as("event_id"),
        col("ts"),
        (col("user_id") + col("k").cast("long") * evMax).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/events.parquet")

    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "embeddings")) {
      val link = dstDir.resolve(s"$t.parquet")
      if (!Files.exists(link))
        Files.createSymbolicLink(link, Paths.get(s"$src/$t.parquet"))
    }
    Files.writeString(marker, stamp)
    ()
  }

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_COPIES=30 + SPARK_GRAFT_SCALE_QUERIES=q50,...: the
    // ×30 point of judge directive r9-#5 rides the same harness (and
    // writes SCALE30.json); default is the standing ×10 board
    val nCopies = sys.env.getOrElse("SPARK_GRAFT_COPIES", Copies.toString).toInt
    val queries = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Queries)
    val dst = s"target/scale$nCopies/data"
    val cpus = graft.Host.cpus
    val repeats = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "2").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Verify.silenceIntendedGlobalWindowWarn()

    inflate(spark, src, dst, nCopies)

    // every query pays its FULL lineage at both scales (memos cleared
    // per run): the exponent compares computation, not cache luck
    def runOnce(name: String, dir: String): Double = {
      graft.queries.Artifacts.clearAll()
      // drop the orphaned localCheckpoint blocks the memo clear strands
      // (ScaleLadder note: at big rungs they pin old-gen into a GC wall)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      System.gc()
      dt
    }

    // warmup (codegen/JIT) on the small side
    queries.foreach(q => try runOnce(q, src) catch { case NonFatal(e) =>
      System.err.println(s"[scale10] warmup $q failed: $e")
    })

    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    val rows = queries.map { q =>
      val t1 = (1 to repeats).map { r =>
        System.err.println(s"[scale10] $q @1x ($r/$repeats)")
        runOnce(q, src)
      }.min
      val tn = (1 to repeats).map { r =>
        System.err.println(s"[scale10] $q @${nCopies}x ($r/$repeats)")
        runOnce(q, dst)
      }.min
      val exp = math.log(tn / t1) / math.log(nCopies.toDouble)
      System.err.println(
        s"[scale10] $q t1=${num(t1)} t$nCopies=${num(tn)} exp=${num(exp)}")
      s""""$q":{"t1_sec":${num(t1)},"t${nCopies}_sec":${num(tn)},"exponent":${num(exp)}}"""
    }
    val out = s"SCALE$nCopies.json"
    val line =
      s"""{"metric":"scale$nCopies","unit":"sec","copies":$nCopies,"sf":"$src","repeats":$repeats,"queries":${rows.mkString("{", ",", "}")}}"""
    println(line)
    System.out.flush()
    try Files.writeString(Paths.get(out), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[scale10] could not write $out: $e")
    }
    spark.stop()
  }
}
