package graft

import graft.operators.Staged
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** Incremental append-only staging (r14): when a corpus grows by appended
  * part files — the 100 TB growth mode, a crawl drop landing next to the
  * existing parts — row-distributive stages delta-build ONLY the new
  * files and reference the prior fingerprint's segments by manifest (no
  * data copy). Any in-place modification still invalidates to a cold
  * rebuild, and the default in-session mode is untouched.
  */
class StagedIncrementalSpec extends AnyFunSuite {
  import TestSpark.spark

  /** Synthetic documents written as a parquet DIRECTORY (the layout
    * appends happen in), with enough structure for near-dup pipelines:
    * every doc distinct unless ids are listed in `dupOf`. */
  private def writeDocs(dir: String, ids: Range, append: Boolean,
      dupOf: Map[Int, Int] = Map.empty): Unit = {
    import spark.implicits._
    val rows = ids.map { i =>
      val base = dupOf.getOrElse(i, i)
      val text = s"alpha bravo charlie delta echo foxtrot golf hotel " +
        s"india juliet kilo lima word$base tail$base end$base"
      (i.toLong, text, "en", s"src${i % 3}", text.length.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars").repartition(2)
      .write.mode(if (append) "append" else "overwrite")
      .parquet(s"$dir/documents.parquet")
  }

  private def freshDir(): String = {
    val d = Files.createTempDirectory("inc_data")
    d.toString
  }

  private def modes(stage: String): Seq[String] =
    Staged.buildLogSnapshot.collect { case (s, m) if s == stage => m }

  test("append-only growth: delta-builds only the new part files, manifest references prior segments in place") {
    val stageRoot = Files.createTempDirectory("inc_root").toString
    val dir = freshDir()
    writeDocs(dir, 0 until 40, append = false)
    Staged.evict(spark)
    Staged.enablePersist(stageRoot)
    try {
      def stage() = Staged.appendable(spark, dir, "inc@mech", "documents", "doc_id")(
        docs => docs.selectExpr("doc_id", "length(text) AS n")) {
        spark.read.parquet(s"$dir/documents.parquet")
          .selectExpr("doc_id", "length(text) AS n")
      }
      Staged.clearBuildLog()
      assert(stage().count() === 40)
      assert(modes("inc@mech") === Seq("cold"))
      val fpOld = Staged.fingerprint(dir)

      // the crawl drop: 10 appended docs, old part files untouched
      writeDocs(dir, 40 until 50, append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      val grown = stage()
      assert(modes("inc@mech") === Seq("delta"),
        s"append must delta-build, got ${Staged.buildLogSnapshot}")
      assert(grown.count() === 50)
      val fpNew = Staged.fingerprint(dir)
      assert(fpOld !== fpNew)
      // the new manifest references the OLD fingerprint's segment in place
      val manifest = Files.readAllLines(Paths.get(stageRoot, fpNew)
        .toFile.listFiles().filter(_.getName.startsWith("inc_mech"))
        .head.toPath.resolve("_GRAFT_STAGE"))
      import scala.jdk.CollectionConverters._
      val segs = manifest.asScala.filter(_.startsWith("segment\t"))
      assert(segs.size === 2, s"expected 2 segments: $segs")
      assert(segs.exists(_.contains(fpOld)),
        s"prior segment must be referenced, not copied: $segs")
      // value parity with a full cold rebuild in a pristine root
      val incRows = grown.collect().map(_.toString).sorted.toSeq
      Staged.disablePersist()
      Staged.reset(spark)
      Staged.enablePersist(Files.createTempDirectory("inc_root_cold").toString)
      Staged.clearBuildLog()
      val coldRows = stage().collect().map(_.toString).sorted.toSeq
      assert(modes("inc@mech") === Seq("cold"))
      assert(incRows === coldRows, "delta union must equal a cold rebuild")
      // and warm rereads hit
      Staged.reset(spark)
      Staged.clearBuildLog()
      stage().count()
      assert(modes("inc@mech") === Seq("hit"))
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("in-place modification of an old part file falls back to a cold rebuild") {
    val stageRoot = Files.createTempDirectory("inc_root_mod").toString
    val dir = freshDir()
    writeDocs(dir, 0 until 20, append = false)
    Staged.evict(spark)
    Staged.enablePersist(stageRoot)
    try {
      def stage() = Staged.appendable(spark, dir, "inc@mod", "documents", "doc_id")(
        docs => docs.selectExpr("doc_id")) {
        spark.read.parquet(s"$dir/documents.parquet").selectExpr("doc_id")
      }
      Staged.clearBuildLog()
      stage().count()
      assert(modes("inc@mod") === Seq("cold"))
      // REWRITE (not append): every part file replaced
      writeDocs(dir, 0 until 25, append = false)
      Staged.reset(spark)
      Staged.clearBuildLog()
      assert(stage().count() === 25)
      assert(modes("inc@mod") === Seq("cold"),
        s"a rewritten source must cold-rebuild, got ${Staged.buildLogSnapshot}")
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("re-delivered source keys refuse the delta and cold-rebuild (r14 ADVICE)") {
    // An appended part file that RE-DELIVERS an existing doc_id breaks
    // the union semantics of aggregating delta stages (a groupBy(doc_id)
    // stage would emit a second row next to the prior segment's) — the
    // key-disjointness gate must refuse and fall back to a cold rebuild,
    // whose result is then exact.
    val stageRoot = Files.createTempDirectory("inc_root_dup").toString
    val dir = freshDir()
    writeDocs(dir, 0 until 30, append = false)
    Staged.evict(spark)
    Staged.enablePersist(stageRoot)
    try {
      // an AGGREGATING stage — the shape the overlap would corrupt
      def stage() = Staged.appendable(spark, dir, "inc@dup", "documents",
        "doc_id")(docs => docs.groupBy("doc_id").count()) {
        spark.read.parquet(s"$dir/documents.parquet")
          .groupBy("doc_id").count()
      }
      Staged.clearBuildLog()
      assert(stage().count() === 30)
      assert(modes("inc@dup") === Seq("cold"))
      // the bad drop: ids 25..34 — 25..29 re-delivered
      writeDocs(dir, 25 until 35, append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      val grown = stage()
      assert(modes("inc@dup") === Seq("delta-refused", "cold"),
        s"overlapping keys must refuse the delta: ${Staged.buildLogSnapshot}")
      // cold rebuild merged the duplicates: 35 distinct ids, re-delivered
      // ids counted twice
      assert(grown.count() === 35)
      import org.apache.spark.sql.functions.col
      assert(grown.filter(col("count") === 2).count() === 5,
        "re-delivered ids must aggregate across old and new part files")
      // a GENUINELY disjoint follow-up append still delta-builds
      writeDocs(dir, 40 until 45, append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      assert(stage().count() === 40)
      assert(modes("inc@dup") === Seq("delta"),
        s"disjoint append must still delta-build: ${Staged.buildLogSnapshot}")
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("disjointness gate: non-INT64 keys take the Spark fallback — delta on disjoint, refusal on overlap") {
    // the footer-statistics fast path only serves INT64 keys; a STRING
    // key must fall back to the Spark range + semi-join probe with the
    // same accept/refuse semantics
    val stageRoot = Files.createTempDirectory("inc_root_str").toString
    val dir = freshDir()
    writeDocs(dir, 0 until 20, append = false)
    Staged.evict(spark)
    Staged.enablePersist(stageRoot)
    try {
      // key on the TEXT column: unique per doc unless dupOf re-delivers it
      def stage() = Staged.appendable(spark, dir, "inc@str", "documents",
        "text")(docs => docs.selectExpr("text", "length(text) AS n")) {
        spark.read.parquet(s"$dir/documents.parquet")
          .selectExpr("text", "length(text) AS n")
      }
      Staged.clearBuildLog()
      stage().count()
      assert(modes("inc@str") === Seq("cold"))
      // disjoint drop (all-new texts) must still delta-build
      writeDocs(dir, 20 until 26, append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      assert(stage().count() === 26)
      assert(modes("inc@str") === Seq("delta"),
        s"string-keyed disjoint append must delta: ${Staged.buildLogSnapshot}")
      // overlapping drop (doc 30 re-delivers doc 3's exact text) refuses
      writeDocs(dir, 30 until 34, append = true, dupOf = Map(30 -> 3))
      Staged.reset(spark)
      Staged.clearBuildLog()
      stage().count()
      assert(modes("inc@str") === Seq("delta-refused", "cold"),
        s"string-keyed overlap must refuse: ${Staged.buildLogSnapshot}")
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("source-unchanged fingerprint move relinks every segment without building") {
    val stageRoot = Files.createTempDirectory("inc_root_rel").toString
    val dir = freshDir()
    writeDocs(dir, 0 until 15, append = false)
    Staged.evict(spark)
    Staged.enablePersist(stageRoot)
    try {
      def stage() = Staged.appendable(spark, dir, "inc@rel", "documents", "doc_id")(
        docs => docs.selectExpr("doc_id")) {
        spark.read.parquet(s"$dir/documents.parquet").selectExpr("doc_id")
      }
      Staged.clearBuildLog()
      stage().count()
      assert(modes("inc@rel") === Seq("cold"))
      // ANOTHER table in the corpus dir regenerates: the directory
      // fingerprint moves but this stage's source listing is unchanged
      Files.write(Paths.get(dir, "other.parquet"), "o".getBytes)
      Staged.reset(spark)
      Staged.clearBuildLog()
      assert(stage().count() === 15)
      assert(modes("inc@rel") === Seq("relink"),
        s"unchanged source must relink, got ${Staged.buildLogSnapshot}")
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("segment compaction: manifests fold past the cap, value parity holds, gc unpins the parents (r14 verdict #4)") {
    val stageRoot = Files.createTempDirectory("inc_root_cmp").toString
    val dir = freshDir()
    writeDocs(dir, 0 until 12, append = false)
    Staged.evict(spark)
    Staged.enablePersist(stageRoot)
    val savedCap = Staged.compactSegmentsAbove
    Staged.compactSegmentsAbove = 3
    try {
      def stage() = Staged.appendable(spark, dir, "inc@cmp", "documents",
        "doc_id")(docs => docs.selectExpr("doc_id", "length(text) AS n")) {
        spark.read.parquet(s"$dir/documents.parquet")
          .selectExpr("doc_id", "length(text) AS n")
      }
      def segments(): Seq[String] = {
        import scala.jdk.CollectionConverters._
        val fp = Staged.fingerprint(dir)
        val stageDir = Paths.get(stageRoot, fp).toFile.listFiles()
          .filter(_.getName.startsWith("inc_cmp")).head.toPath
        Files.readAllLines(stageDir.resolve("_GRAFT_STAGE")).asScala
          .filter(_.startsWith("segment\t")).toSeq
      }
      stage().count() // cold: 1 segment
      val fps = scala.collection.mutable.ArrayBuffer(Staged.fingerprint(dir))
      assert(segments().size === 1)
      // two appends accrete segments (2, then 3 = cap, no fold yet)
      for ((r, want) <- Seq(((12 until 15), 2), ((15 until 18), 3))) {
        writeDocs(dir, r, append = true)
        Staged.reset(spark)
        stage().count()
        fps += Staged.fingerprint(dir)
        assert(segments().size === want, s"expected $want segments")
      }
      // the next append would make 4 > cap: the publish folds to ONE
      // segment owned by the current fingerprint
      writeDocs(dir, 18 until 21, append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      val folded = stage()
      assert(modes("inc@cmp") === Seq("delta-compact"),
        s"past-cap append must fold: ${Staged.buildLogSnapshot}")
      val segs = segments()
      val fpNow = Staged.fingerprint(dir)
      assert(segs.size === 1, s"fold must leave one segment: $segs")
      assert(segs.head.contains(fpNow),
        s"folded segment must live under the current fingerprint: $segs")
      // value parity with a cold rebuild over the same grown corpus
      val foldedRows = folded.collect().map(_.toString).sorted.toSeq
      Staged.enablePersist(Files.createTempDirectory("inc_cmp_cold").toString)
      Staged.reset(spark)
      val coldRows = stage().collect().map(_.toString).sorted.toSeq
      assert(foldedRows === coldRows, "fold drifted from a cold rebuild")
      // the fold unpinned every stale parent: gc reclaims all prior fps
      Staged.enablePersist(stageRoot)
      val deleted = Staged.gc(stageRoot, Seq(dir))
      assert(deleted.toSet === fps.toSet.diff(Set(fpNow)),
        s"fold must let gc reclaim the stale parents: deleted=$deleted " +
          s"fps=$fps now=$fpNow")
      // and the folded stage still reads after the sweep
      Staged.reset(spark)
      assert(stage().count() === 21)
      // a further append restarts accretion at 2 segments
      writeDocs(dir, 21 until 24, append = true)
      Staged.reset(spark)
      stage().count()
      assert(segments().size === 2)
    } finally {
      Staged.compactSegmentsAbove = savedCap
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("stage-kind change across versions: a mismatched-format dir clears and rebuilds instead of wedging (r15)") {
    // converting a stage between the plain-table and manifest kinds (as
    // `components` did moving to rebuildable) meets the OTHER format's
    // dir at the same fingerprint in an existing persist root — the
    // atomic publish cannot move onto a non-empty dir, so the resolver
    // must clear the stale-format dir and rebuild, not rethrow forever
    val stageRoot = Files.createTempDirectory("inc_root_mig").toString
    val dir = freshDir()
    writeDocs(dir, 0 until 15, append = false)
    Staged.evict(spark)
    Staged.enablePersist(stageRoot)
    try {
      def full = spark.read.parquet(s"$dir/documents.parquet")
        .selectExpr("doc_id")
      // "old binary": plain-table format under this name
      Staged(spark, dir, "mig@k")(full).count()
      Staged.reset(spark)
      Staged.clearBuildLog()
      // "new binary": the same name resolved as a MANIFEST stage
      val migrated = Staged.rebuildable(spark, dir, "mig@k", "documents",
        "doc_id")((prior, _) => prior)(full)
      assert(migrated.count() === 15)
      assert(modes("mig@k") === Seq("cold"),
        s"format change must rebuild cold: ${Staged.buildLogSnapshot}")
      // and the REVERSE direction: manifest format met by the plain kind
      Staged.appendable(spark, dir, "mig@r", "documents", "doc_id")(
        d => d.selectExpr("doc_id"))(full).count()
      Staged.reset(spark)
      Staged.clearBuildLog()
      assert(Staged(spark, dir, "mig@r")(full).count() === 15)
      // subsequent resolutions of both are plain hits
      Staged.reset(spark)
      Staged.clearBuildLog()
      assert(Staged.rebuildable(spark, dir, "mig@k", "documents", "doc_id")(
        (prior, _) => prior)(full).count() === 15)
      assert(modes("mig@k") === Seq("hit"))
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("catalog: inventory rows carry kind/segments/bytes and the live/referenced flags gc acts on (r15)") {
    val stageRoot = Files.createTempDirectory("inc_root_cat").toString
    val dir = freshDir()
    writeDocs(dir, 0 until 20, append = false)
    Staged.evict(spark)
    Staged.enablePersist(stageRoot)
    try {
      def appendableStage() = Staged.appendable(spark, dir, "cat@m",
        "documents", "doc_id")(docs => docs.selectExpr("doc_id")) {
        spark.read.parquet(s"$dir/documents.parquet").selectExpr("doc_id")
      }
      def plainStage() = Staged(spark, dir, "cat@t") {
        spark.read.parquet(s"$dir/documents.parquet")
          .selectExpr("count(*) AS n")
      }
      appendableStage().count()
      plainStage().count()
      val fp1 = Staged.fingerprint(dir)
      // grow: the manifest stage delta-builds, pinning fp1 by reference
      writeDocs(dir, 20 until 25, append = true)
      Staged.reset(spark)
      appendableStage().count()
      plainStage().count()
      val fp2 = Staged.fingerprint(dir)
      val cat = Staged.catalog(stageRoot, Seq(dir))
      def row(fp: String, pfx: String) =
        cat.find(e => e.fingerprint == fp && e.stageDir.startsWith(pfx))
      val m1 = row(fp1, "cat_m").get
      val m2 = row(fp2, "cat_m").get
      val t2 = row(fp2, "cat_t").get
      assert(m2.kind === "manifest" && m2.segments === 2 &&
        m2.live && m2.referenced)
      assert(t2.kind === "table" && t2.live)
      // fp1 is stale but PINNED by fp2's manifest: not reclaimable
      assert(!m1.live && m1.referenced,
        s"fp1 must read stale-but-referenced: $cat")
      assert(cat.forall(_.bytes > 0), s"every stage has files: $cat")
      // the union read costs more than fp1's own segment alone
      assert(m2.bytes > m1.bytes)
      // gc acts exactly on the (live=false, referenced=false) rows: none
      assert(Staged.gc(stageRoot, Seq(dir)).isEmpty)
      // full rewrite → fp3; fp1/fp2 now unreferenced → catalog predicts
      // the sweep
      writeDocs(dir, 0 until 8, append = false)
      Staged.reset(spark)
      appendableStage().count()
      val cat3 = Staged.catalog(stageRoot, Seq(dir))
      val reclaimable = cat3.filter(e => !e.live && !e.referenced)
        .map(_.fingerprint).toSet
      assert(reclaimable === Set(fp1, fp2))
      assert(Staged.gc(stageRoot, Seq(dir)).toSet === Set(fp1, fp2))
      assert(Staged.catalog(stageRoot, Seq(dir))
        .forall(e => e.live && e.fingerprint != fp1 && e.fingerprint != fp2))
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("gc retains stale subtrees pinned by a live manifest, deletes unreferenced ones") {
    val stageRoot = Files.createTempDirectory("inc_root_gc").toString
    val dir = freshDir()
    writeDocs(dir, 0 until 10, append = false)
    Staged.evict(spark)
    Staged.enablePersist(stageRoot)
    try {
      def stage() = Staged.appendable(spark, dir, "inc@gc", "documents", "doc_id")(
        docs => docs.selectExpr("doc_id")) {
        spark.read.parquet(s"$dir/documents.parquet").selectExpr("doc_id")
      }
      stage().count()
      val fp1 = Staged.fingerprint(dir)
      writeDocs(dir, 10 until 14, append = true)
      Staged.reset(spark)
      stage().count()
      val fp2 = Staged.fingerprint(dir)
      // fp1 is stale (fingerprint moved) but fp2's manifest references its
      // segment — gc must keep BOTH
      val deleted1 = Staged.gc(stageRoot, Seq(dir))
      assert(deleted1.isEmpty, s"referenced subtree must survive: $deleted1")
      assert(Paths.get(stageRoot, fp1).toFile.isDirectory)
      // full rewrite: fp3's stage is cold, nothing references fp1/fp2
      writeDocs(dir, 0 until 12, append = false)
      Staged.reset(spark)
      stage().count()
      val fp3 = Staged.fingerprint(dir)
      val deleted2 = Staged.gc(stageRoot, Seq(dir))
      assert(deleted2.toSet === Set(fp1, fp2),
        s"unreferenced stales must go: $deleted2")
      assert(Paths.get(stageRoot, fp3).toFile.isDirectory)
      // the live stage still reads after the sweep
      Staged.reset(spark)
      assert(stage().count() === 12)
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("real pipeline: near-dup + vocab queries after an append equal a cold rebuild and the in-session mode") {
    val dir = freshDir()
    // two engineered near-dup pairs inside the base corpus, one pair
    // SPLIT ACROSS the append boundary (doc 55 duplicates doc 3): the
    // delta-built signatures must join against the prior segments'
    val base = Map(20 -> 1, 30 -> 2)
    writeDocs(dir, 0 until 50, append = false, dupOf = base)
    val queries = Seq("dedup_components", "dedup_canonicalize",
      "dedup_minhash_lsh", "dedup_simhash_pairs", "vocab_topk",
      "tfidf_topterms")
      .filter(SparkEntry.queries.contains)
    def collectSorted(name: String): Seq[String] = {
      Staged.reset(spark)
      SparkEntry.queries(name)(spark, dir)
        .collect().map(_.toString).sorted.toSeq
    }
    Staged.evict(spark)
    try {
      // force the components contraction: this corpus' edge list is far
      // below the union-find threshold where the delta would (correctly)
      // refuse — the parity assertions below are the contraction's gate
      operators.DedupQueries.contractionMinEdges = -1L
      // incremental path: cold-stage the base, append, re-run
      Staged.enablePersist(Files.createTempDirectory("inc_rp_a").toString)
      queries.foreach(collectSorted) // cold build at base corpus
      // 55 duplicates base doc 3 (new→old edge); 56 duplicates 3 too, so
      // 55↔56 is a new→new edge — the incremental closure must merge the
      // appended pair into the OLD doc's component through contraction
      writeDocs(dir, 50 until 60, append = true,
        dupOf = Map(55 -> 3, 56 -> 3))
      Staged.clearBuildLog()
      val incremental = queries.map(q => q -> collectSorted(q)).toMap
      val shingleModes = modes("shingles_raw")
      assert(shingleModes.headOption.contains("delta"),
        s"per-doc stages must delta-build after the append: " +
          s"${Staged.buildLogSnapshot.take(12)}")
      // the candidate and verified stages delta-build too (r14 second
      // half): no bucket is hot on this corpus, so the gated incremental
      // enumeration applies and parity below pins it bit-equal
      assert(modes("lsh_candidates").headOption.contains("delta"),
        s"candidate stage must delta-build: ${Staged.buildLogSnapshot}")
      assert(modes("jaccard_verified").headOption.contains("delta"),
        s"verified stage must delta-build: ${Staged.buildLogSnapshot}")
      // r15: the component closure delta-maintains from the prior label
      // table (Staged.rebuildable) — parity below pins it equal to cold
      assert(modes("components").headOption.contains("delta"),
        s"components must delta-rebuild: ${Staged.buildLogSnapshot}")
      // r16: document frequencies delta-merge (additive counts under the
      // key-disjointness gate) — tfidf's parity below pins the values
      assert(modes("df").headOption.contains("delta"),
        s"df must delta-merge, not recount the corpus: " +
          s"${Staged.buildLogSnapshot}")
      // cold path: a pristine root sees the grown corpus all at once
      Staged.disablePersist()
      Staged.reset(spark)
      Staged.enablePersist(Files.createTempDirectory("inc_rp_b").toString)
      val cold = queries.map(q => q -> collectSorted(q)).toMap
      // in-session control
      Staged.disablePersist()
      Staged.reset(spark)
      val session = queries.map(q => q -> collectSorted(q)).toMap
      for (q <- queries) {
        assert(incremental(q) === cold(q),
          s"$q drifted between incremental and cold staging")
        assert(incremental(q) === session(q),
          s"$q drifted between incremental and in-session mode")
      }
      // the engineered cross-boundary duplicate was actually found
      assert(incremental("dedup_components").exists(_.contains("55")) ||
        incremental("dedup_canonicalize").exists(_.contains("55")),
        "the append-boundary near-dup pair must appear in the components")
    } finally {
      operators.DedupQueries.contractionMinEdges = 1L << 20
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("components contraction gate: below the union-find threshold the delta refuses to a plain rebuild") {
    val dir = freshDir()
    writeDocs(dir, 0 until 40, append = false, dupOf = Map(20 -> 1))
    def components(): Seq[String] = {
      Staged.reset(spark)
      SparkEntry.queries("dedup_components")(spark, dir)
        .collect().map(_.toString).sorted.toSeq
    }
    Staged.evict(spark)
    Staged.enablePersist(Files.createTempDirectory("inc_ccgate").toString)
    try {
      components() // cold-stage the base
      writeDocs(dir, 40 until 46, append = true, dupOf = Map(43 -> 2))
      Staged.clearBuildLog()
      val refused = components()
      val ccModes = modes("components")
      assert(ccModes === Seq("delta-refused", "cold"),
        s"a tiny edge list must refuse contraction: ${Staged.buildLogSnapshot}")
      // and the rebuild is still exact
      Staged.disablePersist()
      Staged.reset(spark)
      assert(refused === components(),
        "the refused-contraction rebuild drifted from the in-session result")
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("hot-bucket delta gate: a refused candidate delta falls back to cold with identical results") {
    import graft.operators.DedupQueries
    val dir = freshDir()
    writeDocs(dir, 0 until 30, append = false, dupOf = Map(20 -> 1))
    def components(): Seq[String] = {
      Staged.reset(spark)
      SparkEntry.queries("dedup_components")(spark, dir)
        .collect().map(_.toString).sorted.toSeq
    }
    Staged.evict(spark)
    Staged.enablePersist(Files.createTempDirectory("inc_gate").toString)
    try {
      components() // cold-stage the base
      writeDocs(dir, 30 until 36, append = true, dupOf = Map(33 -> 2))
      // every bucket has size >= 1, so threshold 0 refuses ANY delta —
      // the whole-table rebuild path a truly hot bucket would take
      DedupQueries.deltaGateThreshold = 0L
      // force PAST the contraction's edge-count gate so the refusal below
      // is attributable to the hot-bucket gate alone: a star-collapsed
      // verified rebuild invalidates prior labels as a contraction base
      DedupQueries.contractionMinEdges = -1L
      Staged.clearBuildLog()
      val refused = components()
      val candModes = modes("lsh_candidates")
      assert(candModes.contains("delta-refused") && candModes.contains("cold"),
        s"gate must refuse and cold-rebuild: ${Staged.buildLogSnapshot}")
      assert(!candModes.contains("delta"))
      assert(modes("components") === Seq("delta-refused", "cold"),
        s"components must refuse contraction when the verified stage " +
          s"rebuilt under the star collapse: ${Staged.buildLogSnapshot}")
      // identical to the in-session run over the same grown corpus
      Staged.disablePersist()
      Staged.reset(spark)
      val control = components()
      assert(refused === control,
        "refused-delta cold rebuild drifted from the in-session result")
    } finally {
      DedupQueries.deltaGateThreshold =
        graft.functions.TextHashing.HotBucketDefault
      DedupQueries.contractionMinEdges = 1L << 20
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("property: delta-built shingle stage equals cold at ANY append split point") {
    // The appendable contract is row-distributivity; pin it for the real
    // shingle transform across random corpora and random split points —
    // any split of the same docs into (base, appended) must produce the
    // same stage table as staging the whole corpus cold.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val wordGen = Gen.oneOf("red", "blue", "ox", "elm", "fig", "yak")
    val docGen = Gen.chooseNum(3, 9)
      .flatMap(n => Gen.listOfN(n, wordGen)).map(_.mkString(" "))
    val caseGen = for {
      n <- Gen.chooseNum(4, 14)
      texts <- Gen.listOfN(n, docGen)
      split <- Gen.chooseNum(1, n - 1)
    } yield (texts, split)
    val prop = Prop.forAll(caseGen) { case (texts, split) =>
      import spark.implicits._
      val dir = freshDir()
      def write(rows: Seq[(Long, String)], append: Boolean): Unit =
        rows.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
          .toDF("doc_id", "text", "lang", "source", "n_chars")
          .write.mode(if (append) "append" else "overwrite")
          .parquet(s"$dir/documents.parquet")
      val all = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      def shingles(): Seq[String] = {
        Staged.reset(spark)
        graft.operators.DedupQueries.shinglesStage(spark, dir)
          .collect().map(_.toString).sorted.toSeq
      }
      Staged.evict(spark)
      val root = Files.createTempDirectory("inc_prop").toString
      Staged.enablePersist(root)
      try {
        write(all.take(split), append = false)
        shingles() // cold-stage the base prefix
        write(all.drop(split), append = true)
        Staged.clearBuildLog()
        val delta = shingles()
        val mode = modes("shingles_raw").headOption
        // cold control in a pristine root over the identical full corpus
        Staged.enablePersist(Files.createTempDirectory("inc_propc").toString)
        Staged.reset(spark)
        val cold = shingles()
        mode.contains("delta") && delta == cold
      } finally {
        Staged.disablePersist()
        Staged.reset(spark)
      }
    }
    val params = SCTest.Parameters.default.withMinSuccessfulTests(8)
    val res = SCTest.check(params, prop)
    assert(res.passed, res.status.toString)
  }

  test("frozen semantic drops: delta-scores only the append; refuses out-of-order ids; hot cells re-pair in-delta (r16, surgical since r18)") {
    import spark.implicits._
    import operators.{IvfConfig, SemDedupConfig, SimilarityQueries}
    val dir = freshDir()
    // decorrelated family (the 13-periodic one used elsewhere aliases
    // vec(3)=vec(16)=..., and anything affine in d correlates): a
    // murmur-style avalanche per (i, d) — only ENGINEERED copies match
    def mix(x: Long): Long = {
      var z = x + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def vec(i: Int): Array[Float] =
      Array.tabulate(64)(d =>
        (math.floorMod(mix(i * 64L + d), 1021L).toInt - 510) / 510f)
    def writeEmb(rows: Seq[(Long, Array[Float])], append: Boolean): Unit =
      rows.map { case (id, e) => (id, e, (id % 5).toInt) }
        .toDF("vec_id", "embedding", "label").repartition(2)
        .write.mode(if (append) "append" else "overwrite")
        .parquet(s"$dir/embeddings.parquet")
    // base: 30 distinct vectors plus a same-cell copy (33 copies 3)
    writeEmb((0 until 30).map(i => (i.toLong, vec(i))) :+ (33L, vec(3)),
      append = false)
    val cfg = IvfConfig(centroidEvery = 10, centroidKey = 7,
      frozen = true, driftFractionMax = 1.0)
    // floor chosen between the copy dot (~87k self-dot at these dims)
    // and the random-pair band (std ~11k): only engineered copies match
    val sem = SemDedupConfig(dotFloor = 60000L)
    def drops(c: SemDedupConfig = sem): Set[(Long, Long, Long)] =
      SimilarityQueries.semanticDedupWith(spark, dir, c,
        operators.Quantizer.Rule(cfg)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def dropModes(c: SemDedupConfig = sem): Seq[String] =
      Staged.buildLogSnapshot.collect {
        case (s, m) if s.startsWith(s"sem_drops@${c.dotFloor}:" +
          s"${c.hotCellThreshold}:${c.anchors}@") => m
      }
    val rootA = Files.createTempDirectory("inc_sem_a").toString
    Staged.evict(spark)
    Staged.enablePersist(rootA)
    try {
      val baseDrops = drops()
      assert(baseDrops.exists(d => d._1 == 33L && d._3 == 3L),
        s"the engineered base copy must be dropped: $baseDrops")
      // the drop: higher ids only, NO rule ids (so a fresh founding on
      // the grown corpus picks the same centroid set — cold-parity
      // below compares equal semantics), with one copy of an OLD vector
      // (100 copies 3) and one new-new pair (102 copies 101)
      writeEmb(Seq((100L, vec(3)), (101L, vec(41)), (102L, vec(41)),
        (103L, vec(42)), (104L, vec(43))), append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      val grownDrops = drops()
      assert(dropModes() === Seq("delta"),
        s"drops must delta-build: ${Staged.buildLogSnapshot}")
      assert(baseDrops.subsetOf(grownDrops),
        "prior verdicts are immutable under an id-ordered append")
      assert(grownDrops.exists(d => d._1 == 100L && d._3 == 3L),
        s"appended copy of an OLD vector must drop against it: $grownDrops")
      assert(grownDrops.exists(d => d._1 == 102L && d._3 == 101L),
        s"appended copy of an APPENDED vector must drop against it: " +
          s"$grownDrops")
      assert(!grownDrops.exists(_._1 == 101L),
        "the smaller-id twin of a new-new pair stays kept")
      // cold parity: a fresh root founds on the grown corpus — same
      // centroid set (no appended rule ids), so the exact same drops
      val rootB = Files.createTempDirectory("inc_sem_b").toString
      Staged.enablePersist(rootB)
      Staged.reset(spark)
      Staged.clearBuildLog()
      val coldDrops = drops()
      assert(dropModes() === Seq("cold"), s"${Staged.buildLogSnapshot}")
      assert(coldDrops === grownDrops,
        "the delta-built table must equal a cold rebuild of the grown " +
          "corpus")
      // OUT-OF-ORDER refusal: id 60 is above the base ids but below the
      // 100s already in the corpus — it could re-anchor 100's verdict,
      // so the delta must refuse and rebuild cold (and land the same
      // answer a from-scratch build does)
      Staged.enablePersist(rootA)
      writeEmb(Seq((60L, vec(60))), append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      drops()
      assert(dropModes() === Seq("delta-refused", "cold"),
        s"out-of-order append must refuse: ${Staged.buildLogSnapshot}")
      // HOT-CELL surgery (r17 verdict #1 — formerly a whole-table
      // refusal): found a tiny-threshold stage, then append in order —
      // the grown cells exceed the threshold, where the cold pairing
      // star-collapses. The delta no longer refuses: hot cells re-pair
      // through the guard IN the delta, and the result must equal a
      // cold rebuild of the grown corpus bit for bit.
      val tiny = sem.copy(hotCellThreshold = 2L)
      drops(tiny) // founds the tiny-threshold stage at this fingerprint
      writeEmb(Seq((200L, vec(2))), append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      val tinyDelta = drops(tiny)
      assert(dropModes(tiny) === Seq("delta"),
        s"hot cells re-pair surgically in-delta, no refusal: " +
          s"${Staged.buildLogSnapshot}")
      val rootC = Files.createTempDirectory("inc_sem_c").toString
      Staged.enablePersist(rootC)
      Staged.reset(spark)
      Staged.clearBuildLog()
      val tinyCold = drops(tiny)
      assert(dropModes(tiny) === Seq("cold"), s"${Staged.buildLogSnapshot}")
      assert(tinyDelta === tinyCold,
        "the surgical delta must equal a cold rebuild of the grown corpus")
      Staged.enablePersist(rootA)
      Staged.reset(spark)
      Staged.clearBuildLog()
      drops()
      assert(dropModes() === Seq("delta"),
        "the default-threshold stage still delta-builds the same append")
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("frozen semantic drops: ONE cell crossing the threshold re-pairs surgically — cold cells keep O(delta) verdicts, parity with a whole-table cold build (r17 verdict #1)") {
    import spark.implicits._
    import operators.{IvfConfig, SemDedupConfig, SimilarityQueries}
    val dir = freshDir()
    // Exact 1/64-unit vectors (lossless under floor(v*64)) with FULL
    // control of cells and dots:
    //   v7  = +100 on every dim            (centroid 7's vector)
    //   v17 = -100 on every dim            (centroid 17's vector)
    //   X   = +100 on dims 0..32, -100 on dims 33..63
    // q8 integer dots: v7.v7 = X.X = 640,000; X.v7 = (33-31)*10,000 =
    // 20,000 (below the 60,000 floor — X-copies and v7-copies share
    // cell 7 but never match each other); X.v17 = -20,000 < X.v7, so X
    // homes to cell 7 STRICTLY.
    def constV(k: Int): Array[Float] = Array.fill(64)(k / 64f)
    val vX: Array[Float] = Array.tabulate(64)(d =>
      if (d <= 32) 100 / 64f else -100 / 64f)
    def writeEmb(rows: Seq[(Long, Array[Float])], append: Boolean): Unit =
      rows.map { case (id, e) => (id, e, (id % 5).toInt) }
        .toDF("vec_id", "embedding", "label").repartition(2)
        .write.mode(if (append) "append" else "overwrite")
        .parquet(s"$dir/embeddings.parquet")
    // founding: cell 7 = {7, 20, 21} (v7 copies), cell 17 = {17, 30, 31}
    // (v17 copies) — both AT or below threshold 4, exact pairing
    writeEmb(Seq((7L, constV(100)), (17L, constV(-100)),
      (20L, constV(100)), (21L, constV(100)),
      (30L, constV(-100)), (31L, constV(-100))), append = false)
    val ivfCfg = IvfConfig(centroidEvery = 10, centroidKey = 7,
      frozen = true)
    val sem = SemDedupConfig(dotFloor = 60000L, hotCellThreshold = 4L)
    def drops(): Set[(Long, Long, Long)] =
      SimilarityQueries.semanticDedupWith(spark, dir, sem,
        operators.Quantizer.Rule(ivfCfg))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    def dropModes(): Seq[String] =
      Staged.buildLogSnapshot.collect {
        case (s, m) if s.startsWith(s"sem_drops@${sem.dotFloor}:" +
          s"${sem.hotCellThreshold}:${sem.anchors}@") => m
      }
    val rootA = Files.createTempDirectory("inc_surg_a").toString
    Staged.evict(spark)
    Staged.enablePersist(rootA)
    try {
      val founding = drops()
      assert(founding === Set((20L, 7L, 7L), (21L, 7L, 7L),
        (30L, 17L, 17L), (31L, 17L, 17L)), s"founding drops: $founding")
      // the drop: three X-copies grow cell 7 to 6 members (> 4, HOT);
      // one v17-copy grows cell 17 to exactly 4 (= threshold, COLD).
      // The star discriminates the paths: anchors of hot cell 7 are
      // {min 7, max 42}, so the exact pair (40, 41) is NOT enumerated —
      // 41 stays KEPT under the guard semantics (an exact delta would
      // have dropped it to 40), while 42 drops to 40 via the max-anchor
      // edge. Cold cell 17 scores only the appended 50 (O(delta)).
      writeEmb(Seq((40L, vX), (41L, vX), (42L, vX),
        (50L, constV(-100))), append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      val grown = drops()
      assert(dropModes() === Seq("delta"),
        s"one hot cell must NOT refuse the delta: " +
          s"${Staged.buildLogSnapshot}")
      assert(grown === founding ++ Set((42L, 7L, 40L), (50L, 17L, 17L)),
        s"hot cell takes the star path (41 kept, 42 -> 40), cold cell " +
          s"the exact delta (50 -> 17): $grown")
      // whole-table cold parity on a fresh root — the guard's own
      // per-bucket decision over the grown corpus must land the same set
      val rootB = Files.createTempDirectory("inc_surg_b").toString
      Staged.enablePersist(rootB)
      Staged.reset(spark)
      Staged.clearBuildLog()
      val cold = drops()
      assert(dropModes() === Seq("cold"), s"${Staged.buildLogSnapshot}")
      assert(cold === grown,
        "the surgical delta must equal the whole-table cold build")
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("frozen IVF quantizer: centroids stage once, cells delta-assign appends, drift re-founds (r15 verdict #1)") {
    import spark.implicits._
    import operators.{IvfConfig, SimilarityQueries}
    val dir = freshDir()
    def vec(i: Int): Array[Float] =
      Array.tabulate(64)(d => (((i * 31 + d * 7) % 13) - 6).toFloat / 6f)
    def writeEmb(ids: Range, append: Boolean,
        of: Int => Array[Float]): Unit =
      ids.map(i => (i.toLong, of(i), i % 5))
        .toDF("vec_id", "embedding", "label").repartition(2)
        .write.mode(if (append) "append" else "overwrite")
        .parquet(s"$dir/embeddings.parquet")
    writeEmb(0 until 40, append = false, vec)
    val cfg = IvfConfig(centroidEvery = 10, centroidKey = 7,
      frozen = true, driftFractionMax = 1.0)
    def cellRows(c: IvfConfig): Set[(Long, Long, Int)] = {
      SimilarityQueries.ivfCells(spark, dir, operators.Quantizer.Rule(c))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    }
    def centIds(c: IvfConfig): Set[Long] =
      SimilarityQueries.frozenCentroids(spark, dir, c)
        .select("cid").collect().map(_.getLong(0)).toSet
    def cellModes: Seq[(String, String)] = Staged.buildLogSnapshot.collect {
      case (s, m) if s.startsWith("ivf_cells@10:7:2+frz") => (s, m)
    }
    Staged.evict(spark)
    Staged.enablePersist(Files.createTempDirectory("inc_frz").toString)
    try {
      val baseCells = cellRows(cfg)
      val founding = centIds(cfg)
      assert(founding === Set(7L, 17L, 27L, 37L),
        s"founding centroid set by the rule: $founding")
      // the crawl drop, INCLUDING a would-be centroid id (47) — a frozen
      // quantizer must ignore it, a rule-over-current-corpus one may not
      writeEmb(40 until 55, append = true, vec)
      Staged.reset(spark)
      Staged.clearBuildLog()
      val grownCells = cellRows(cfg)
      // the drift bound keys the lineage (r16 self-review: two bounds
      // whose kept-vs-re-founded decisions differ must never alias)
      assert(modes("ivf_centroids.v2@10:7:2:d1.0") === Seq("delta"),
        s"frozen centroids must keep the prior table: " +
          s"${Staged.buildLogSnapshot}")
      assert(cellModes.map(_._2) === Seq("delta"),
        s"cells must map-only delta-assign: ${Staged.buildLogSnapshot}")
      assert(centIds(cfg) === founding,
        "the quantizer is frozen: the appended rule id must NOT join it")
      // old assignments byte-identical, new vectors assigned to frozen
      // cells only, one home cell each
      assert(baseCells.subsetOf(grownCells),
        "an append must never move an existing assignment")
      val newRows = grownCells -- baseCells
      assert(newRows.nonEmpty && newRows.forall(_._1 >= 40L))
      assert(newRows.forall(r => founding.contains(r._2)),
        s"new vectors must land in frozen cells: $newRows")
      assert(newRows.count(_._3 == 1) === 15)
      // a different drift bound is a DIFFERENT lineage (r16): it founds
      // its own stage cold over the grown corpus — including the rule
      // ids the frozen lineage ignored — rather than inheriting a table
      // a looser policy accepted
      val tight = cfg.copy(driftFractionMax = 0.0)
      writeEmb(100 until 115, append = true, _ => vec(107))
      Staged.reset(spark)
      Staged.clearBuildLog()
      cellRows(tight)
      assert(modes("ivf_centroids.v2@10:7:2:d0.0") === Seq("cold"),
        s"a fresh drift bound must found its own lineage: " +
          s"${Staged.buildLogSnapshot}")
      assert(centIds(tight) === Set(7L, 17L, 27L, 37L, 47L, 107L),
        "founding runs the rule over the grown corpus")
      // drift re-founding ON the tight lineage: an engineered drifted
      // drop — every appended vector IS the drop's rule-matching
      // vector (cos 1.0 against it, < 1.0 against every frozen
      // centroid), so the capture fraction is 1.0 and the stage must
      // refuse and re-train
      writeEmb(200 until 210, append = true, _ => vec(207))
      Staged.reset(spark)
      Staged.clearBuildLog()
      val refoundedCells = cellRows(tight)
      assert(modes("ivf_centroids.v2@10:7:2:d0.0") ===
        Seq("delta-refused", "cold"),
        s"measured drift must re-found: ${Staged.buildLogSnapshot}")
      assert(centIds(tight) ===
        Set(7L, 17L, 27L, 37L, 47L, 107L, 207L),
        "re-founding re-runs the rule over the grown corpus")
      // the cells key carries the centroid-set digest, so they re-found
      // in lockstep under a FRESH stage name
      assert(cellModes.map(_._2) === Seq("cold"),
        s"cells must cold-rebuild with the re-founded set: $cellModes")
      assert(refoundedCells.map(_._1) ===
        (0 until 55).map(_.toLong).toSet ++
          (100 until 115).map(_.toLong) ++ (200 until 210).map(_.toLong))
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("frozen TRAINED quantizer: Lloyd founds once, cells delta-assign, coverage drift re-trains (r18)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import operators.{IvfConfig, SimilarityQueries}
    val dir = freshDir()
    // Three tight id-contiguous clusters (A: 0-9 on dims 0-20, B: 10-19
    // anti-correlated, C: 20-29 on dims 43-63), one rule seed each
    // (every=10, key=7 → ids 7/17/27); ±1 jitter on the member's own
    // dim keeps founding radii small (rr0 ≈ single digits) so coverage
    // is a sharp yardstick.
    def vec(i: Int): Array[Float] = Array.tabulate(64) { d =>
      val b = if (i % 100 < 10) { if (d <= 20) 8 else 0 }
        else if (i % 100 < 20) { if (d <= 20) -8 else 0 }
        else if (i % 100 < 30) { if (d >= 43) 8 else 0 }
        else { if (d >= 30 && d <= 40) 8 else 0 } // cluster D: drop-2 drift
      ((b + (if (d == i % 64) 1 else 0)) / 64.0).toFloat
    }
    def writeEmb(ids: Range, append: Boolean): Unit =
      ids.map(i => (i.toLong, vec(i), i % 5))
        .toDF("vec_id", "embedding", "label").repartition(2)
        .write.mode(if (append) "append" else "overwrite")
        .parquet(s"$dir/embeddings.parquet")
    writeEmb(0 until 30, append = false)
    val cfg = IvfConfig(centroidEvery = 10, centroidKey = 7,
      frozen = true, driftFractionMax = 0.3)
    def cents(): Map[Long, Seq[Long]] =
      operators.Quantizer.Trained(cfg).centroids(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).map(_.toLong)).toMap
    def cells(): Set[(Long, Long, Int)] =
      SimilarityQueries.ivfCells(spark, dir, operators.Quantizer.Trained(cfg))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val centsStage = "ivf_refined_cents@10:7:2:L2:d0.3+frz"
    def cellModes: Seq[String] = Staged.buildLogSnapshot.collect {
      case (s, m) if s.startsWith("ivf_refined_cells@10:7:2:L2+frz") => m
    }
    def rrModes: Seq[String] = Staged.buildLogSnapshot.collect {
      case (s, m) if s.startsWith("ivf_refined_rr@10:7:2:L2+frz") => m
    }
    def radii(): Map[Long, Long] =
      SimilarityQueries.ivfCellBounds(spark, dir,
        operators.Quantizer.Trained(cfg)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Staged.evict(spark)
    Staged.enablePersist(Files.createTempDirectory("inc_frz_ref").toString)
    try {
      val founding = cents()
      val baseCells = cells()
      assert(founding.keySet === Set(7L, 17L, 27L),
        s"trained centroids keep their seed ids: ${founding.keySet}")
      // Lloyd moved each seed to (floored) cluster means: cluster A's
      // centroid reads 8 on dim 0 (floor of the 8.1 jittered mean) —
      // the cluster's base, not seed 7's own jittered vector
      assert(founding(7L).head === 8L,
        s"trained A-centroid dim0 must be the cluster mean: " +
          s"${founding(7L).take(3)}")
      // parity: frozen founding values == an unfrozen training over the
      // same (founding) corpus
      val unfrozen = operators.Quantizer.Trained(cfg.copy(frozen = false))
        .centroids(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).map(_.toLong)).toMap
      assert(unfrozen === founding,
        "frozen founding must equal the unfrozen training bit for bit")
      // the engineered jitter makes every founding radius exactly 1
      // (one ±1 on the member's own dim against the floored-mean
      // centroid) — the frozen range-geometry stage founds on it
      assert(radii() === Map(7L -> 1L, 17L -> 1L, 27L -> 1L),
        s"founding radii must be the jitter: ${radii()}")

      // drop 1: IN-COVERAGE append — replicas of founding cluster
      // members (d2 to the trained centroid ≤ that cell's rr0 by
      // construction). The quantizer must keep its values verbatim and
      // the cells must map-only delta-assign.
      writeEmb(200 until 230, append = true) // i % 100 = 0..29 → A/B/C
      Staged.reset(spark)
      Staged.clearBuildLog()
      val grownCells = cells()
      val keptCents = cents()
      assert(modes(centsStage) === Seq("delta"),
        s"in-coverage drop must keep the trained table: " +
          s"${Staged.buildLogSnapshot}")
      assert(cellModes === Seq("delta"),
        s"cells must delta-assign: ${Staged.buildLogSnapshot}")
      assert(keptCents === founding,
        "the trained values must ride appends verbatim")
      assert(baseCells.subsetOf(grownCells),
        "an append must never move an existing assignment")
      assert((grownCells -- baseCells).forall(_._1 >= 200L))
      // the frozen radius stage max-merges the drop (replicas land at
      // d2 = 1, so every radius is unchanged) — and must read DELTA
      assert(radii() === Map(7L -> 1L, 17L -> 1L, 27L -> 1L),
        s"replica drop must not grow any radius: ${radii()}")
      assert(rrModes === Seq("delta"),
        s"frozen radii must delta-merge: ${Staged.buildLogSnapshot}")

      // drop 2: OUT-OF-COVERAGE append — cluster D sits on dims 30-40,
      // far outside every founding radius, so the coverage probe reads
      // drift 1.0 > 0.3 and the stage must refuse and RE-TRAIN; the
      // value-digest keys the cells to the new training (cold, fresh
      // stage name).
      writeEmb(1030 until 1040, append = true) // i % 100 = 30..39 → D
      Staged.reset(spark)
      Staged.clearBuildLog()
      val refoundCells = cells()
      val retrained = cents()
      assert(modes(centsStage) === Seq("delta-refused", "cold"),
        s"coverage drift must re-train: ${Staged.buildLogSnapshot}")
      assert(cellModes === Seq("cold"),
        s"cells must re-key to the re-trained digest: " +
          s"${Staged.buildLogSnapshot}")
      assert(retrained !== founding,
        "re-training over the grown corpus must move centroid values")
      assert(retrained.keySet ===
        Set(7L, 17L, 27L, 207L, 217L, 227L, 1037L),
        s"re-founding re-seeds from the GROWN corpus's rule ids — " +
          s"including cluster D's 1037: ${retrained.keySet}")
      assert(refoundCells.map(_._1) === ((0 until 30) ++ (200 until 230) ++
        (1030 until 1040)).map(_.toLong).toSet,
        "re-founded cells must cover the whole grown corpus")
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("frozen TRAINED PQ codebook: per-subspace Lloyd founds once with founding radii, codes delta-encode, coverage drift re-trains under a moved VALUE digest (r19)") {
    import spark.implicits._
    import operators.{PqConfig, SimilarityQueries}
    val dir = freshDir()
    // the r18 trained-quantizer fixture, reused: three tight clusters
    // (A: dims 0-20, B: anti-correlated, C: dims 43-63) with ±1 jitter
    // on the member's own dim; cluster D (dims 30-40) is the
    // out-of-coverage drop — its slices 3/4/5 sit far outside every
    // founding (off, cw) radius, so ≥ 3 of its 8 encodings per vector
    // read as moved (> the 0.2 gate), while EXACT copies read 0.
    def vec(i: Int): Array[Float] = Array.tabulate(64) { d =>
      val b = if (i % 100 < 10) { if (d <= 20) 8 else 0 }
        else if (i % 100 < 20) { if (d <= 20) -8 else 0 }
        else if (i % 100 < 30) { if (d >= 43) 8 else 0 }
        else { if (d >= 30 && d <= 40) 8 else 0 }
      ((b + (if (d == i % 64) 1 else 0)) / 64.0).toFloat
    }
    def writeRows(rows: Seq[(Long, Array[Float], Int)],
        append: Boolean): Unit =
      rows.toDF("vec_id", "embedding", "label").repartition(2)
        .write.mode(if (append) "append" else "overwrite")
        .parquet(s"$dir/embeddings.parquet")
    writeRows((0 until 30).map(i => (i.toLong, vec(i), i % 5)),
      append = false)
    val cfg = PqConfig(cwEvery = 10, cwKey = 7, frozen = true,
      driftFractionMax = 0.2)
    def cb(): Map[(Long, Long), Seq[Long]] =
      operators.Codebook.Trained(cfg).book(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          r.getSeq[Double](2).map(_.toLong)).toMap
    def codes(): Map[(Long, Long), Long] =
      SimilarityQueries.pqCodes(spark, dir, operators.Codebook.Trained(cfg))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val cbStage = "pq_refined_cb@10:7:8x8:L2:d0.2+frz"
    def codesModes: Seq[String] = Staged.buildLogSnapshot.collect {
      case (s, m) if s.startsWith("pq_refined_codes@10:7:8x8:L2+frz") => m
    }
    Staged.evict(spark)
    Staged.enablePersist(
      Files.createTempDirectory("inc_frz_pqref").toString)
    try {
      val founding = cb()
      val baseCodes = codes()
      assert(founding.keys.map(_._2).toSet === Set(7L, 17L, 27L),
        "trained codewords keep their seed ids")
      assert(founding.keys.map(_._1).toSet ===
        (0 until 8).map(s => s * 8 + 1L).toSet,
        "one codebook per subspace")
      // parity: frozen founding values == an unfrozen training over the
      // same founding corpus, bit for bit
      val unfrozen = operators.Codebook.Trained(cfg.copy(frozen = false))
        .book(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          r.getSeq[Double](2).map(_.toLong)).toMap
      assert(unfrozen === founding,
        "frozen founding must equal the unfrozen training bit for bit")

      // drop 1: IN-COVERAGE — exact copies of founding members under
      // new ids: every (vector, subspace) encode distance equals its
      // original's (≤ that cell's founding radius by construction). The
      // codebook must keep its values verbatim; the codes stage must
      // delta-encode ONLY the drop, and the copies' codes must equal
      // their originals'.
      writeRows((0 until 30).map(k => (200L + k, vec(k), k % 5)),
        append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      val grownCodes = codes()
      val keptCb = cb()
      assert(modes(cbStage) === Seq("delta"),
        s"in-coverage drop must keep the trained codebook: " +
          s"${Staged.buildLogSnapshot}")
      assert(codesModes === Seq("delta"),
        s"codes must delta-encode: ${Staged.buildLogSnapshot}")
      assert(keptCb === founding,
        "the trained codebook must ride appends verbatim")
      for (k <- 0 until 30; s <- 0 until 8)
        assert(grownCodes((200L + k, s * 8 + 1L)) ===
          baseCodes((k.toLong, s * 8 + 1L)),
          s"copy ${200 + k} subspace $s must inherit its original's code")

      // drop 2: OUT-OF-COVERAGE — cluster D's slice geometry exceeds
      // the founding radii on ≥ 3 of 8 subspaces per vector → the
      // coverage probe reads > 0.2 and the codebook must refuse and
      // RE-TRAIN; the moved VALUE digest re-keys the codes stage cold.
      writeRows((1030 until 1040).map(i => (i.toLong, vec(i), i % 5)),
        append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      val refoundCodes = codes()
      val retrained = cb()
      assert(modes(cbStage) === Seq("delta-refused", "cold"),
        s"coverage drift must re-train: ${Staged.buildLogSnapshot}")
      assert(codesModes === Seq("cold"),
        s"codes must re-key to the re-trained digest: " +
          s"${Staged.buildLogSnapshot}")
      assert(retrained !== founding,
        "re-training over the grown corpus must move codeword values")
      assert(retrained.keys.map(_._2).toSet ===
        Set(7L, 17L, 27L, 207L, 217L, 227L, 1037L),
        s"re-founding re-seeds from the GROWN corpus's rule ids: " +
          s"${retrained.keys.map(_._2).toSet}")
      assert(refoundCodes.keys.map(_._1).toSet ===
        ((0 until 30) ++ (200 until 230) ++ (1030 until 1040))
          .map(_.toLong).toSet,
        "re-founded codes must cover the whole grown corpus")
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("frozen composed trained IVFADC: residuals/codebook/codes all delta on an in-coverage drop; a coarse re-training moves the WHOLE chain in lockstep (r19, r18 verdict #2)") {
    import spark.implicits._
    import operators.{IvfConfig, PqConfig, SimilarityQueries}
    val dir = freshDir()
    // the r18 trained-quantizer cluster fixture (A/B/C founding,
    // D = out-of-coverage drift)
    def vec(i: Int): Array[Float] = Array.tabulate(64) { d =>
      val b = if (i % 100 < 10) { if (d <= 20) 8 else 0 }
        else if (i % 100 < 20) { if (d <= 20) -8 else 0 }
        else if (i % 100 < 30) { if (d >= 43) 8 else 0 }
        else { if (d >= 30 && d <= 40) 8 else 0 }
      ((b + (if (d == i % 64) 1 else 0)) / 64.0).toFloat
    }
    def writeRows(rows: Seq[(Long, Array[Float], Int)],
        append: Boolean): Unit =
      rows.toDF("vec_id", "embedding", "label").repartition(2)
        .write.mode(if (append) "append" else "overwrite")
        .parquet(s"$dir/embeddings.parquet")
    writeRows((0 until 30).map(i => (i.toLong, vec(i), i % 5)),
      append = false)
    val ivfCfg = IvfConfig(centroidEvery = 10, centroidKey = 7,
      frozen = true, driftFractionMax = 0.3)
    // pq drift gate wide open: this test isolates the LOCKSTEP
    // mechanism — the residual family must move because the COARSE
    // digest moved, not because its own probe fired
    val pqCfg = PqConfig(cwEvery = 10, cwKey = 7, frozen = true,
      driftFractionMax = 1.0)
    def topk(): Long = {
      // drive the staged residual table too — the composed encode
      // derives residuals inline per delta (each frozen stage
      // delta-builds from raw), so the res stage needs its own consumer
      SimilarityQueries.ivfResiduals(spark, dir,
        operators.Quantizer.Trained(ivfCfg)).count()
      SimilarityQueries.ivfAdcTopKWith(spark, dir, 5,
        operators.Quantizer.Trained(ivfCfg), pqCfg).count()
    }
    def codes(): Map[(Long, Long), Long] =
      SimilarityQueries.pqCodes(spark, dir, operators.Codebook.Trained(pqCfg,
        Some(operators.Quantizer.Trained(ivfCfg)))).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def modesOf(prefix: String): Seq[String] =
      Staged.buildLogSnapshot.collect {
        case (s, m) if s.startsWith(prefix) => m
      }
    Staged.evict(spark)
    Staged.enablePersist(
      Files.createTempDirectory("inc_frz_adcref").toString)
    try {
      topk()
      val baseCodes = codes()

      // drop 1: IN-COVERAGE — exact copies. Every stage of the composed
      // chain must delta-resolve: residuals append per vector, the
      // residual codebook keeps its founding values, the codes append.
      writeRows((0 until 30).map(k => (200L + k, vec(k), k % 5)),
        append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      topk()
      val grownCodes = codes()
      assert(modesOf("ivfadc_refined_res@") === Seq("delta"),
        s"residuals must delta-append: ${Staged.buildLogSnapshot}")
      assert(modesOf("pq_refined_rescb@") === Seq("delta"),
        s"the residual codebook must keep its founding: " +
          s"${Staged.buildLogSnapshot}")
      assert(modesOf("ivfadc_refined_codes@") === Seq("delta"),
        s"composed codes must delta-encode: ${Staged.buildLogSnapshot}")
      for (k <- 0 until 30; s <- 0 until 8)
        assert(grownCodes((200L + k, s * 8 + 1L)) ===
          baseCodes((k.toLong, s * 8 + 1L)),
          s"copy ${200 + k} subspace $s must inherit its original's code")

      // drop 2: OUT-OF-COVERAGE — cluster D fires the COARSE coverage
      // probe; the re-training moves the trained VALUE digest, and with
      // it the residuals, the residual codebook (+c component), and the
      // composed codes (+frz…-… components) — all cold under FRESH
      // names, with no refusal needed on the pq side.
      writeRows((1030 until 1040).map(i => (i.toLong, vec(i), i % 5)),
        append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      topk()
      assert(modesOf("ivf_refined_cents@10:7:2:L2:d0.3+frz") ===
        Seq("delta-refused", "cold"),
        s"coarse coverage drift must re-train: ${Staged.buildLogSnapshot}")
      assert(modesOf("ivfadc_refined_res@") === Seq("cold"),
        s"residuals must re-key to the re-trained digest: " +
          s"${Staged.buildLogSnapshot}")
      assert(modesOf("pq_refined_rescb@") === Seq("cold"),
        s"the residual codebook must re-found in lockstep: " +
          s"${Staged.buildLogSnapshot}")
      assert(modesOf("ivfadc_refined_codes@") === Seq("cold"),
        s"composed codes must re-found in lockstep: " +
          s"${Staged.buildLogSnapshot}")
      assert(codes().keys.map(_._1).toSet ===
        ((0 until 30) ++ (200 until 230) ++ (1030 until 1040))
          .map(_.toLong).toSet,
        "re-founded codes must cover the whole grown corpus")
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("cid-partitioned layout stage: delta segments land in their cid partitions on disk, parity with cold, survivor queries stay exact (r19, r18 verdict #3)") {
    import spark.implicits._
    import operators.{IvfConfig, SimilarityQueries}
    val dir = freshDir()
    def vec(i: Int): Array[Float] =
      Array.tabulate(64)(d => (((i * 31 + d * 7) % 13) - 6).toFloat / 6f)
    def writeEmb(ids: Range, append: Boolean): Unit =
      ids.map(i => (i.toLong, vec(i), i % 5))
        .toDF("vec_id", "embedding", "label").repartition(2)
        .write.mode(if (append) "append" else "overwrite")
        .parquet(s"$dir/embeddings.parquet")
    writeEmb(0 until 40, append = false)
    val cfg = IvfConfig(centroidEvery = 10, centroidKey = 7,
      frozen = true, driftFractionMax = 1.0)
    def layout(): Set[(Long, Long)] =
      SimilarityQueries.q8ByCid(spark, dir, operators.Quantizer.Rule(cfg))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def layoutModes: Seq[String] = Staged.buildLogSnapshot.collect {
      case (s, m) if s.startsWith("q8_by_cid@10:7:2+frz") => m
    }
    Staged.evict(spark)
    val root = Files.createTempDirectory("inc_layout").toString
    Staged.enablePersist(root)
    try {
      val base = layout()
      assert(base.map(_._2) === (0 until 40).map(_.toLong).toSet,
        "the layout covers every corpus vector once (rn=1 homes)")
      // on disk: the staged segment is PHYSICALLY partitioned by cid
      def cidDirs(): Set[String] = {
        val s = Files.walk(Paths.get(root))
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala
            .filter(p => java.nio.file.Files.isDirectory(p) &&
              p.getFileName.toString.startsWith("cid="))
            .map(_.getFileName.toString).toSet
        } finally s.close()
      }
      val foundingDirs = cidDirs()
      assert(foundingDirs === Set("cid=7", "cid=17", "cid=27", "cid=37"),
        s"cold segment must lay out one dir per cell: $foundingDirs")
      // a crawl drop delta-assigns and its SEGMENT is itself
      // partitioned — the drop's rows land in their cid partitions
      writeEmb(40 until 55, append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      val grown = layout()
      assert(layoutModes === Seq("delta"),
        s"the layout must delta-build the drop: ${Staged.buildLogSnapshot}")
      assert(base.subsetOf(grown),
        "an append must never move an existing layout row")
      assert((grown -- base).map(_._2) ===
        (40 until 55).map(_.toLong).toSet)
      // parity: the delta-built layout equals the frozen cell table's
      // rn=1 rows (the layout IS cells ⋈ q8 — a cold control in a fresh
      // root would RE-FOUND the rule over the grown corpus and include
      // id 47, which is exactly the founding-geometry drift the frozen
      // config exists to prevent)
      val expected = SimilarityQueries.ivfCells(spark, dir,
        operators.Quantizer.Rule(cfg))
        .filter($"rn" === 1).select($"cid", $"vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(grown === expected,
        "delta-built layout must equal the frozen cells' rn=1 rows")
      // and the layout-served range query stays bit-equal to brute
      Staged.reset(spark)
      val floor = org.apache.spark.sql.functions.lit(500L)
      val brute = SimilarityQueries.rangeCosineWith(spark, dir, floor)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      val cells = SimilarityQueries
        .rangeCosineCellsWith(spark, dir, operators.Quantizer.Rule(cfg), floor)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(cells === brute,
        s"layout-served range query must stay bit-equal to brute " +
          s"(${cells.size} vs ${brute.size})")
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("Ed-Join staged artifacts: grams/freq/prefix delta-build a drop; the FROZEN founding order keeps exact results while candidates may grow (r19, r18 verdict #4)") {
    import spark.implicits._
    import operators.DedupQueries
    val dir = freshDir()
    // near-dup fixture: base docs with one engineered near-pair
    // (ed = 1); the drop adds a new doc that is a near-dup of a BASE
    // doc and introduces grams the founding order has never seen.
    def writeDocs(rows: Seq[(Long, String)], append: Boolean): Unit =
      rows.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .repartition(2)
        .write.mode(if (append) "append" else "overwrite")
        .parquet(s"$dir/documents.parquet")
    val baseDocs = (0 until 20).map(i =>
      (i.toLong, s"alpha beta gamma delta epsilon zeta $i padding tail")) ++
      Seq((100L, "the quick brown fox jumps over the lazy dog tonight"),
        (101L, "the quick brown fox jumps over the lazy dog tonighX"))
    writeDocs(baseDocs, append = false)
    def pairsFrozen(): Set[(Long, Long, Int)] =
      DedupQueries.editDistVerify(spark, dir,
        DedupQueries.prefixCandidatesOf(spark, dir,
          DedupQueries.editPrefixFrozen(spark, dir)))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
    def pairsBand(): Set[(Long, Long, Int)] =
      DedupQueries.editDistPairs.fn(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
    Staged.evict(spark)
    Staged.enablePersist(Files.createTempDirectory("inc_edjoin").toString)
    try {
      // found the whole artifact chain (grams + freq feed the
      // current-order path; order + prefix the frozen one)
      DedupQueries.editGrams(spark, dir).count()
      DedupQueries.editGramFreq(spark, dir).count()
      val basePairs = pairsFrozen()
      assert(basePairs === pairsBand(),
        "frozen-order prefix pairs must equal the band variant's")
      assert(basePairs.exists(p => p._1 == 100L && p._2 == 101L),
        "the engineered near-pair must be found")
      // the drop: 102 is ed=1 from base doc 100 and carries an UNSEEN
      // word ("zzunseen") — its grams are absent from the founding
      // order and must rank rarest (tf 0) without losing the pair
      writeDocs(Seq(
        (102L, "the quick brown fox jumps over the lazy dog tonigzz")),
        append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      // drive the full artifact chain: gram/freq stages delta-build the
      // drop (the prefix's FROZEN path shingles delta docs inline, so
      // they are driven explicitly here)
      DedupQueries.editGrams(spark, dir).count()
      DedupQueries.editGramFreq(spark, dir).count()
      val grownPairs = pairsFrozen()
      def modesOf(prefix: String): Seq[String] =
        Staged.buildLogSnapshot.collect {
          case (s, m) if s.startsWith(prefix) => m
        }
      assert(modesOf("edit_grams") === Seq("delta"),
        s"grams must delta-shingle the drop: ${Staged.buildLogSnapshot}")
      assert(modesOf("edit_gram_freq") === Seq("delta"),
        s"gram frequencies must delta-merge: ${Staged.buildLogSnapshot}")
      assert(modesOf("edit_gram_order+frz") === Seq("delta"),
        s"the frozen order must keep the founding table: " +
          s"${Staged.buildLogSnapshot}")
      assert(modesOf("edit_prefix+frz") === Seq("delta"),
        s"the frozen-order prefix must delta-build the drop only: " +
          s"${Staged.buildLogSnapshot}")
      // exactness under the STALE order: the grown result equals the
      // band variant recomputed over the grown corpus
      assert(grownPairs === pairsBand(),
        "stale-order prefix pairs must equal the band variant on the " +
          "grown corpus")
      assert(grownPairs.contains((100L, 102L,
        grownPairs.find(p => p._1 == 100L && p._2 == 102L).map(_._3)
          .getOrElse(-1))),
        s"the drop's near-pair against a BASE doc must be found: " +
          s"$grownPairs")
      // the CURRENT-corpus order (the oracle path) rebuilds instead —
      // the two stagings answer identically here, by the theorem
      Staged.reset(spark)
      val currentOrder = DedupQueries.editDistPrefix.fn(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
      assert(currentOrder === grownPairs,
        "current-order and frozen-order prefixes must answer identically")
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("staged edit-distance verify chain: classes/members/pairs delta-build a drop, result equals a cold rebuild (r20, r19 verdict #1)") {
    import spark.implicits._
    import operators.DedupQueries
    val dir = freshDir()
    def writeRows(rows: Seq[(Long, String)], append: Boolean): Unit =
      rows.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .repartition(2)
        .write.mode(if (append) "append" else "overwrite")
        .parquet(s"$dir/documents.parquet")
    // founding corpus: one near-pair (100 ~ 101, ed = 1) and one
    // exact-dup class (200 == 201) so the expansion has both kinds
    val base = (0 until 20).map(i =>
      (i.toLong, s"alpha beta gamma delta epsilon zeta $i padding tail")) ++
      Seq((100L, "the quick brown fox jumps over the lazy dog tonight"),
        (101L, "the quick brown fox jumps over the lazy dog tonighX"),
        (200L, "an exactly duplicated document body shared by two ids"),
        (201L, "an exactly duplicated document body shared by two ids"))
    writeRows(base, append = false)
    // the fully STAGED reader (staged members + staged pairs) — the
    // inline-member variant is asserted equal on the grown corpus below
    def pairs(): Set[(Long, Long, Int)] =
      DedupQueries.editDistCollapsed.fn(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
    Staged.evict(spark)
    Staged.enablePersist(Files.createTempDirectory("inc_editpairs").toString)
    try {
      val basePairs = pairs()
      assert(basePairs.contains((100L, 101L, 1)), s"near-pair: $basePairs")
      assert(basePairs.contains((200L, 201L, 0)),
        s"exact-dup expansion: $basePairs")
      // the drop: a near-dup of a BASE doc, a THIRD replica of the
      // exact-dup class (no new class — only new members), and a
      // fresh unrelated doc
      writeRows(Seq(
        (102L, "the quick brown fox jumps over the lazy dog tonigzz"),
        (202L, "an exactly duplicated document body shared by two ids"),
        (300L, "completely fresh content that matches nothing else here")),
        append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      val grownPairs = pairs()
      def modesOf(stage: String): Seq[String] =
        Staged.buildLogSnapshot.collect { case (s, m) if s == stage => m }
      assert(modesOf("edit_classes") === Seq("delta"),
        s"classes must delta-append the drop's new classes: " +
          s"${Staged.buildLogSnapshot}")
      assert(modesOf("edit_members") === Seq("delta"),
        s"members must delta-append: ${Staged.buildLogSnapshot}")
      assert(modesOf("edit_band_pairs") === Seq("delta"),
        s"the pair table must delta-build only pairs touching new " +
          s"classes: ${Staged.buildLogSnapshot}")
      // cross-new-old pair found; the replica joins its class with
      // NO new class pair (202-200/201 are within-class zeros)
      assert(grownPairs.exists(p => p._1 == 100L && p._2 == 102L),
        s"drop near-pair against a base doc: $grownPairs")
      assert(grownPairs.contains((200L, 202L, 0)) &&
        grownPairs.contains((201L, 202L, 0)),
        s"replica must expand within its class: $grownPairs")
      // the inline-member variant answers identically over the same
      // staged pair table
      assert(DedupQueries.editDistPairs.fn(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet === grownPairs,
        "inline-member and staged-member expansions must agree")
      // the delta-built chain answers EXACTLY like a cold rebuild
      val coldRoot = Files.createTempDirectory("inc_editpairs_cold")
      Staged.reset(spark)
      Staged.enablePersist(coldRoot.toString)
      assert(pairs() === grownPairs,
        "delta-built pair expansion must equal the cold rebuild")
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("frozen quantizer drift accumulates: a rule id discarded by an EARLIER drop still counts as drift (r16 self-review)") {
    import spark.implicits._
    import operators.{IvfConfig, SimilarityQueries}
    val dir = freshDir()
    def vec(i: Int): Array[Float] =
      Array.tabulate(64)(d => (((i * 31 + d * 7) % 13) - 6).toFloat / 6f)
    def writeEmb(rows: Seq[(Long, Array[Float])], append: Boolean): Unit =
      rows.map { case (id, e) => (id, e, (id % 5).toInt) }
        .toDF("vec_id", "embedding", "label").repartition(2)
        .write.mode(if (append) "append" else "overwrite")
        .parquet(s"$dir/embeddings.parquet")
    writeEmb((0 until 40).map(i => (i.toLong, vec(i))), append = false)
    val cfg = IvfConfig(centroidEvery = 10, centroidKey = 7,
      frozen = true, driftFractionMax = 0.5)
    val stage = "ivf_centroids.v2@10:7:2:d0.5"
    def centIds(): Set[Long] =
      SimilarityQueries.frozenCentroids(spark, dir, cfg)
        .select("cid").collect().map(_.getLong(0)).toSet
    Staged.evict(spark)
    Staged.enablePersist(Files.createTempDirectory("inc_acc").toString)
    try {
      assert(centIds() === Set(7L, 17L, 27L, 37L))
      // drop A: rule id 47 arrives with LOW measured drift — nine of the
      // ten vectors sit EXACTLY on frozen centroid 7 (tie keeps frozen),
      // only 47 itself is captured by the new candidate -> 0.1 <= 0.5,
      // delta accepted, 47 recorded (not discarded)
      writeEmb(Seq(40L, 41L, 42L, 43L, 44L, 45L, 46L, 48L, 49L)
        .map(id => (id, vec(7))) :+ (47L, vec(47)), append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      assert(centIds() === Set(7L, 17L, 27L, 37L),
        "low-drift drop keeps the founding set")
      assert(modes(stage) === Seq("delta"), s"${Staged.buildLogSnapshot}")
      // drop B: a cluster lands ON 47 — but contains NO rule id of its
      // own. A probe that only scores the current delta's candidates
      // sees an empty candidate set and reports zero drift; the honest
      // probe scores against the RECORDED candidate and must re-found.
      writeEmb(Seq(300L, 301L, 302L, 303L, 304L, 305L)
        .map(id => (id, vec(47))), append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      val after = centIds()
      assert(modes(stage) === Seq("delta-refused", "cold"),
        s"accumulated drift toward a recorded candidate must re-found: " +
          s"${Staged.buildLogSnapshot}")
      assert(after === Set(7L, 17L, 27L, 37L, 47L),
        s"the re-found set includes the recorded candidate: $after")
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("frozen PQ codebook: codes delta-encode appends against the founding set; drift and cap re-found (r16)") {
    import spark.implicits._
    import operators.{PqConfig, SimilarityQueries}
    val dir = freshDir()
    def vec(i: Int): Array[Float] =
      Array.tabulate(64)(d => (((i * 31 + d * 7) % 13) - 6).toFloat / 6f)
    def writeEmb(rows: Seq[(Long, Array[Float])], append: Boolean): Unit =
      rows.map { case (id, e) => (id, e, (id % 5).toInt) }
        .toDF("vec_id", "embedding", "label").repartition(2)
        .write.mode(if (append) "append" else "overwrite")
        .parquet(s"$dir/embeddings.parquet")
    writeEmb((0 until 40).map(i => (i.toLong, vec(i))), append = false)
    val cfg = PqConfig(cwEvery = 10, cwKey = 7,
      frozen = true, driftFractionMax = 1.0)
    def cwIds(c: PqConfig): Set[Long] =
      SimilarityQueries.frozenPqCodebook(spark, dir, c)
        .select("cw_id").collect().map(_.getLong(0)).toSet
    def codeRows(c: PqConfig): Set[(Long, Long, Long)] =
      SimilarityQueries.pqCodes(spark, dir, operators.Codebook.Rule(c))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def codesModes: Seq[(String, String)] = Staged.buildLogSnapshot.collect {
      case (s, m) if s.startsWith("pq_codes@10:7:8x8+frz") => (s, m)
    }
    Staged.evict(spark)
    Staged.enablePersist(Files.createTempDirectory("inc_pq").toString)
    try {
      val founding = cwIds(cfg)
      assert(founding === Set(7L, 17L, 27L, 37L),
        s"founding codebook by the rule: $founding")
      val baseCodes = codeRows(cfg)
      assert(baseCodes.size === 40 * 8, "8 subspace codes per vector")
      // low-drift drop INCLUDING rule id 47: the vec() family separates
      // mod 13, so most appended slices stay nearest a frozen codeword —
      // under the loose bound the delta is accepted, 47 recorded dead
      writeEmb((40 until 55).map(i => (i.toLong, vec(i))), append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      val grownCodes = codeRows(cfg)
      assert(cwIds(cfg) === founding,
        "the codebook is frozen: the appended rule id must NOT join it")
      assert(modes("pq_codebook@10:7:8x8:d1.0") === Seq("delta"),
        s"accepted drop keeps the prior codebook: " +
          s"${Staged.buildLogSnapshot}")
      assert(codesModes.map(_._2) === Seq("delta"),
        s"codes must delta-encode the drop only: " +
          s"${Staged.buildLogSnapshot}")
      assert(baseCodes.subsetOf(grownCodes),
        "an append must never re-encode an existing vector")
      val newRows = grownCodes -- baseCodes
      assert(newRows.nonEmpty && newRows.forall(_._1 >= 40L))
      assert(newRows.forall(r => founding.contains(r._3)),
        s"new vectors must encode against frozen codewords: " +
          s"${newRows.take(5)}")
      assert(newRows.size === 15 * 8)
      // a zero-tolerance lineage founds its own codebook cold over the
      // grown corpus, then an engineered drifted drop (every vector a
      // copy of new rule id 107; slices separate mod 13, so each
      // encodes at distance 0 to the candidate, > 0 to every frozen
      // codeword) must refuse and re-found
      val tight = cfg.copy(driftFractionMax = 0.0)
      Staged.reset(spark)
      Staged.clearBuildLog()
      cwIds(tight)
      assert(modes("pq_codebook@10:7:8x8:d0.0") === Seq("cold"),
        s"a fresh drift bound founds its own lineage: " +
          s"${Staged.buildLogSnapshot}")
      writeEmb((100 until 110).map(i => (i.toLong, vec(107))),
        append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      assert(cwIds(tight) === Set(7L, 17L, 27L, 37L, 47L, 107L),
        "re-founding re-runs the rule over the grown corpus")
      assert(modes("pq_codebook@10:7:8x8:d0.0") ===
        Seq("delta-refused", "cold"),
        s"measured encode drift must re-found: ${Staged.buildLogSnapshot}")
      // the codes key carries the codebook digest: re-found -> fresh
      // name -> cold rebuild in lockstep
      Staged.reset(spark)
      Staged.clearBuildLog()
      codeRows(tight)
      assert(codesModes.map(_._2) === Seq("cold"),
        s"codes must cold-rebuild with the re-founded codebook: " +
          s"$codesModes")
      // counted cap: at recordedCandidateMax = 0 a rule-id candidate
      // refuses even under the loose drift bound
      val capped = cfg.copy(recordedCandidateMax = 0L)
      Staged.reset(spark)
      Staged.clearBuildLog()
      assert(cwIds(capped) === Set(7L, 17L, 27L, 37L, 47L, 107L),
        "the capped lineage founds over the grown corpus")
      writeEmb(Seq((200L, vec(200)), (207L, vec(207))), append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      assert(cwIds(capped) ===
        Set(7L, 17L, 27L, 37L, 47L, 107L, 207L),
        "past the cap the re-found absorbs the candidate as live")
      assert(modes("pq_codebook@10:7:8x8:d1.0:c0") ===
        Seq("delta-refused", "cold"),
        s"the counted gate must refuse past the cap: " +
          s"${Staged.buildLogSnapshot}")
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("capped frozen quantizer: founding keeps the smallest-K rule ids; monotone drops record NOTHING; sub-threshold ids still probe (r16 verdict #1)") {
    import spark.implicits._
    import operators.{IvfConfig, SimilarityQueries}
    val dir = freshDir()
    def vec(i: Int): Array[Float] =
      Array.tabulate(64)(d => (((i * 31 + d * 7) % 13) - 6).toFloat / 6f)
    def writeEmb(rows: Seq[(Long, Array[Float])], append: Boolean): Unit =
      rows.map { case (id, e) => (id, e, (id % 5).toInt) }
        .toDF("vec_id", "embedding", "label").repartition(2)
        .write.mode(if (append) "append" else "overwrite")
        .parquet(s"$dir/embeddings.parquet")
    writeEmb((0 until 40).map(i => (i.toLong, vec(i))), append = false)
    val cfg = IvfConfig(centroidEvery = 10, centroidKey = 7,
      frozen = true, maxCentroids = Some(2L))
    val stage = "ivf_centroids.v2@10:7:2:k2"
    def centIds(c: IvfConfig): Set[Long] =
      SimilarityQueries.frozenCentroids(spark, dir, c)
        .select("cid").collect().map(_.getLong(0)).toSet
    Staged.evict(spark)
    Staged.enablePersist(Files.createTempDirectory("inc_cap").toString)
    try {
      // founding: smallest-2 of the rule ids {7,17,27,37} — the capped
      // set is {7,17}; 27/37 are neither live nor recorded (a capped
      // re-train could never include them: ids only accrete, so the
      // 2nd-smallest threshold only DECREASES below 17)
      assert(centIds(cfg) === Set(7L, 17L),
        "capped founding keeps the smallest-K rule ids")
      // the normal crawl drop: monotone ids, INCLUDING rule id 47.
      // 47 > threshold 17 → dropped before recording: the delta is
      // accepted with the prior table unchanged, no drift probe at all
      writeEmb((40 until 55).map(i => (i.toLong, vec(i))), append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      assert(centIds(cfg) === Set(7L, 17L),
        "a monotone drop can never touch the capped frozen set")
      assert(modes(stage) === Seq("delta"), s"${Staged.buildLogSnapshot}")
      // PROOF nothing was recorded: a cluster landing exactly ON vec(47)
      // — the drop that re-founds the uncapped accumulate lineage —
      // cannot drift a capped stage that never recorded 47 (the drop
      // itself carries no sub-threshold rule id either). Even at
      // driftFractionMax = 0 the delta is accepted.
      val tight0 = cfg.copy(driftFractionMax = 0.0)
      Staged.reset(spark)
      Staged.clearBuildLog()
      assert(centIds(tight0) === Set(7L, 17L)) // founds its own lineage
      writeEmb((300 until 306).map(i => (i.toLong, vec(47))),
        append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      assert(centIds(tight0) === Set(7L, 17L))
      assert(modes(s"$stage:d0.0") === Seq("delta"),
        s"a never-recorded candidate must not drift the capped lineage: " +
          s"${Staged.buildLogSnapshot}")
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("capped frozen quantizer: an out-of-order id BELOW the threshold still records and probes (r16 verdict #1)") {
    import spark.implicits._
    import operators.{IvfConfig, SimilarityQueries}
    val dir = freshDir()
    def vec(i: Int): Array[Float] =
      Array.tabulate(64)(d => (((i * 31 + d * 7) % 13) - 6).toFloat / 6f)
    def writeEmb(rows: Seq[(Long, Array[Float])], append: Boolean): Unit =
      rows.map { case (id, e) => (id, e, (id % 5).toInt) }
        .toDF("vec_id", "embedding", "label").repartition(2)
        .write.mode(if (append) "append" else "overwrite")
        .parquet(s"$dir/embeddings.parquet")
    // founding corpus MISSING the early rule ids: only {37,47} match the
    // rule, so the capped live set is {37,47} and the smallest-2
    // threshold is 47 — a later drop CAN deliver rule ids below it
    writeEmb((30 until 50).map(i => (i.toLong, vec(i))), append = false)
    val cfg = IvfConfig(centroidEvery = 10, centroidKey = 7,
      frozen = true, maxCentroids = Some(2L), driftFractionMax = 0.0)
    val stage = "ivf_centroids.v2@10:7:2:k2:d0.0"
    def centIds(): Set[Long] =
      SimilarityQueries.frozenCentroids(spark, dir, cfg)
        .select("cid").collect().map(_.getLong(0)).toSet
    Staged.evict(spark)
    Staged.enablePersist(Files.createTempDirectory("inc_ooo").toString)
    try {
      assert(centIds() === Set(37L, 47L))
      // the out-of-order drop: rule id 7 < threshold 47 — a capped
      // re-train WOULD include it (smallest-2 of {7,37,47} = {7,37}),
      // so it must be recorded and probed; vec(7)'s own capture is
      // 1/|drop| > 0 drift → the zero-tolerance lineage re-founds over
      // the grown corpus under the cap
      writeEmb(Seq((7L, vec(7)), (8L, vec(8)), (9L, vec(9))),
        append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      assert(centIds() === Set(7L, 37L),
        "the capped re-found keeps the smallest-K over the grown corpus")
      assert(modes(stage) === Seq("delta-refused", "cold"),
        s"a sub-threshold rule id must probe (and here re-found): " +
          s"${Staged.buildLogSnapshot}")
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("capped frozen quantizer: eviction drift — vectors anchored on a live id a capped re-train would DISPLACE count as moved (r17 review)") {
    import spark.implicits._
    import operators.{IvfConfig, SimilarityQueries}
    val dir = freshDir()
    def vec(i: Int): Array[Float] =
      Array.tabulate(64)(d => (((i * 31 + d * 7) % 13) - 6).toFloat / 6f)
    def writeEmb(rows: Seq[(Long, Array[Float])], append: Boolean): Unit =
      rows.map { case (id, e) => (id, e, (id % 5).toInt) }
        .toDF("vec_id", "embedding", "label").repartition(2)
        .write.mode(if (append) "append" else "overwrite")
        .parquet(s"$dir/embeddings.parquet")
    // founding misses the early rule ids: live (cap 2) = {37,47}
    writeEmb((30 until 50).map(i => (i.toLong, vec(i))), append = false)
    val cfg = IvfConfig(centroidEvery = 10, centroidKey = 7,
      frozen = true, maxCentroids = Some(2L), driftFractionMax = 0.5)
    val stage = "ivf_centroids.v2@10:7:2:k2:d0.5"
    def centIds(): Set[Long] =
      SimilarityQueries.frozenCentroids(spark, dir, cfg)
        .select("cid").collect().map(_.getLong(0)).toSet
    Staged.evict(spark)
    Staged.enablePersist(Files.createTempDirectory("inc_evict").toString)
    try {
      assert(centIds() === Set(37L, 47L))
      // the drop: sub-threshold entrant 7 DISPLACES 47 from the capped
      // re-trained set (smallest-2 of {7,37,47} = {7,37}), and four
      // appended vectors sit exactly ON centroid 47. An entrants-only
      // probe reads their best frozen match as live 47 (cos 1.0, "not
      // moved") → drift 1/5 = 0.2 <= 0.5 → silently accepts a delta a
      // re-train would mostly reassign. The eviction-aware probe tags
      // 47 `is_new` → all five vectors count moved → drift 1.0 → refuse
      // and re-found over the grown corpus under the cap.
      writeEmb(Seq((7L, vec(7)), (300L, vec(47)), (301L, vec(47)),
        (302L, vec(47)), (303L, vec(47))), append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      assert(centIds() === Set(7L, 37L),
        "the capped re-found keeps the smallest-K over the grown corpus")
      assert(modes(stage) === Seq("delta-refused", "cold"),
        s"eviction drift must refuse the delta: ${Staged.buildLogSnapshot}")
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("capped frozen quantizer: a recorded dead id above the lowered threshold is PRUNED at delta time (r17 verdict #7)") {
    import spark.implicits._
    import operators.{IvfConfig, SimilarityQueries}
    val dir = freshDir()
    def vec(i: Int): Array[Float] =
      Array.tabulate(64)(d => (((i * 31 + d * 7) % 13) - 6).toFloat / 6f)
    def writeEmb(rows: Seq[(Long, Array[Float])], append: Boolean): Unit =
      rows.map { case (id, e) => (id, e, (id % 5).toInt) }
        .toDF("vec_id", "embedding", "label").repartition(2)
        .write.mode(if (append) "append" else "overwrite")
        .parquet(s"$dir/embeddings.parquet")
    // founding misses the early rule ids: live (cap 2) = {37,47},
    // threshold 47. driftFractionMax = 1.0 — never drift-refound, so
    // the counted gate (recordedCandidateMax = 2) is the only refusal
    // in play, which is exactly what makes the prune OBSERVABLE: the
    // second drop records two candidates, so a dead set that still
    // carried the first drop's id would trip the gate (1 + 2 > 2) and
    // rebuild cold, while the pruned set (the id sits above the lowered
    // threshold — no re-train can ever include it) accepts the delta.
    writeEmb((30 until 50).map(i => (i.toLong, vec(i))), append = false)
    val cfg = IvfConfig(centroidEvery = 10, centroidKey = 7,
      frozen = true, maxCentroids = Some(2L), driftFractionMax = 1.0,
      recordedCandidateMax = 2L)
    val stage = "ivf_centroids.v2@10:7:2:k2:d1.0:c2"
    def centIds(): Set[Long] =
      SimilarityQueries.frozenCentroids(spark, dir, cfg)
        .select("cid").collect().map(_.getLong(0)).toSet
    Staged.evict(spark)
    Staged.enablePersist(Files.createTempDirectory("inc_prune").toString)
    try {
      assert(centIds() === Set(37L, 47L))
      // drop 1: out-of-order rule id 27 < threshold 47 — recorded dead
      writeEmb(Seq((27L, vec(27))), append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      assert(centIds() === Set(37L, 47L))
      assert(modes(stage) === Seq("delta"), s"${Staged.buildLogSnapshot}")
      // drop 2: rule ids {7, 17} lower the capped threshold to 17 —
      // dead 27 is now strictly above it and must leave the table
      // BEFORE the counted gate reads deadN (a re-train over any future
      // corpus keeps the smallest 2 of a pool containing {7, 17}, so 27
      // can never re-enter; the threshold-monotonicity property is the
      // soundness argument, pinned as a ScalaCheck property elsewhere)
      writeEmb(Seq((7L, vec(7)), (17L, vec(17))), append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      assert(centIds() === Set(37L, 47L),
        "the frozen live set never moves on an accepted delta")
      assert(modes(stage) === Seq("delta"),
        s"the pruned dead set must pass the counted gate (an unpruned " +
          s"one reads 1 + 2 > 2 and refuses): ${Staged.buildLogSnapshot}")
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("capped frozen PQ codebook: an exact integer tie against a SMALLER-id recorded candidate counts as moved (r17 ADVICE)") {
    import spark.implicits._
    import operators.{PqConfig, SimilarityQueries}
    val dir = freshDir()
    // vectors in exact 1/64 units so floor(v * 64) quantizes losslessly:
    // X (id 37) = +2 per dim, FAR (id 47) = +100 per dim, Y (id 7) = -2
    // per dim, M (probes) = 0 per dim — per subspace (8 dims):
    // dist(M, X) = 8 * 4 = 32 == dist(M, Y), an EXACT integer tie, and
    // dist(M, FAR) = 8 * 100^2 keeps the evicted live row out of the
    // race. A true encode breaks the tie (dist asc, cw_id asc) toward
    // the SMALLER id 7 — a non-frozen candidate — so all 32 M-units are
    // drift; an id-blind strict-< probe reads them as "not moved" and
    // under-counts drift 0.2 where the encode's truth is 1.0.
    def const(k: Int): Array[Float] = Array.fill(64)(k / 64f)
    def writeEmb(rows: Seq[(Long, Array[Float])], append: Boolean): Unit =
      rows.map { case (id, e) => (id, e, (id % 5).toInt) }
        .toDF("vec_id", "embedding", "label").repartition(2)
        .write.mode(if (append) "append" else "overwrite")
        .parquet(s"$dir/embeddings.parquet")
    // founding misses the early rule ids: live (cap 2) = {37, 47}
    writeEmb((30 until 50).map { i =>
      (i.toLong, i match {
        case 37 => const(2)
        case 47 => const(100)
        case _ => const(-40 - i) // non-rule filler, far from everything
      })
    }, append = false)
    val cfg = PqConfig(cwEvery = 10, cwKey = 7,
      frozen = true, maxCodewords = Some(2L), driftFractionMax = 0.5)
    val stage = "pq_codebook@10:7:8x8:k2:d0.5"
    def cwIds(): Set[Long] =
      SimilarityQueries.frozenPqCodebook(spark, dir, cfg)
        .select("cw_id").collect().map(_.getLong(0)).toSet
    Staged.evict(spark)
    Staged.enablePersist(Files.createTempDirectory("inc_tie").toString)
    try {
      assert(cwIds() === Set(37L, 47L))
      // the drop: sub-threshold candidate 7 (= Y) plus four probe
      // vectors at the exact midpoint M. Moved units: Y's own 8
      // subspaces win strictly (dist 0 vs 32); M's 4 x 8 = 32 subspaces
      // move ONLY via the id tie-break — drift 40/40 = 1.0 > 0.5, so
      // the delta refuses and the re-found keeps smallest-2 {7, 37}.
      writeEmb(Seq((7L, const(-2)), (300L, const(0)), (301L, const(0)),
        (302L, const(0)), (303L, const(0))), append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      assert(cwIds() === Set(7L, 37L),
        "the tie-aware probe must refuse and re-found over the grown corpus")
      assert(modes(stage) === Seq("delta-refused", "cold"),
        s"an exact tie against a smaller-id candidate is drift: " +
          s"${Staged.buildLogSnapshot}")
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("capped frozen PQ codebook: codes delta-encode under the cap; the distance table is config-sized (r16 verdict #1)") {
    import spark.implicits._
    import operators.{PqConfig, SimilarityQueries}
    val dir = freshDir()
    def vec(i: Int): Array[Float] =
      Array.tabulate(64)(d => (((i * 31 + d * 7) % 13) - 6).toFloat / 6f)
    def writeEmb(rows: Seq[(Long, Array[Float])], append: Boolean): Unit =
      rows.map { case (id, e) => (id, e, (id % 5).toInt) }
        .toDF("vec_id", "embedding", "label").repartition(2)
        .write.mode(if (append) "append" else "overwrite")
        .parquet(s"$dir/embeddings.parquet")
    writeEmb((0 until 40).map(i => (i.toLong, vec(i))), append = false)
    val cfg = PqConfig(cwEvery = 10, cwKey = 7,
      frozen = true, maxCodewords = Some(2L))
    def cwIds(): Set[Long] =
      SimilarityQueries.frozenPqCodebook(spark, dir, cfg)
        .select("cw_id").collect().map(_.getLong(0)).toSet
    def codeRows(): Set[(Long, Long, Long)] =
      SimilarityQueries.pqCodes(spark, dir, operators.Codebook.Rule(cfg))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def codesModes: Seq[(String, String)] = Staged.buildLogSnapshot.collect {
      case (s, m) if s.startsWith("pq_codes@10:7:8x8:k2+frz") => (s, m)
    }
    Staged.evict(spark)
    Staged.enablePersist(Files.createTempDirectory("inc_pqcap").toString)
    try {
      assert(cwIds() === Set(7L, 17L),
        "capped founding keeps the smallest-K rule ids")
      val baseCodes = codeRows()
      assert(baseCodes.size === 40 * 8)
      assert(baseCodes.forall(r => Set(7L, 17L).contains(r._3)))
      // monotone drop with rule id 47: above the threshold — dropped
      // before recording, codebook untouched, codes delta-encode the
      // drop against exactly maxCodewords codewords
      writeEmb((40 until 55).map(i => (i.toLong, vec(i))), append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      val grown = codeRows()
      assert(cwIds() === Set(7L, 17L))
      assert(modes("pq_codebook@10:7:8x8:k2") === Seq("delta"),
        s"${Staged.buildLogSnapshot}")
      assert(codesModes.map(_._2) === Seq("delta"),
        s"codes must delta-encode under the cap: ${Staged.buildLogSnapshot}")
      assert(baseCodes.subsetOf(grown))
      val newRows = grown -- baseCodes
      assert(newRows.size === 15 * 8)
      assert(newRows.forall(r => Set(7L, 17L).contains(r._3)),
        s"new codes reference only the capped codebook: ${newRows.take(5)}")
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("empty founding rule set: the first candidate drop reads drift 1.0 and re-founds, never silently staying empty (r16 review)") {
    // An empty-founded index must never silently stay empty: before the
    // fix, bn-vs-NULL read as "not moved", drift 0.0, and an
    // empty-founded index accepted every drop forever while returning
    // nothing. Pinned for BOTH frozen-rule stages (shared skeleton) AT
    // driftFractionMax = 1.0 — the boundary where a fraction test alone
    // (1.0 > 1.0 is false) would still keep the index empty, so the
    // refusal must be the UNCONDITIONAL empty-live gate, not the probe.
    import spark.implicits._
    import operators.{IvfConfig, PqConfig, SimilarityQueries}
    val dir = freshDir()
    def vec(i: Int): Array[Float] =
      Array.tabulate(64)(d => (((i * 31 + d * 7) % 13) - 6).toFloat / 6f)
    def writeEmb(ids: Seq[Long], append: Boolean): Unit =
      ids.map(i => (i, vec(i.toInt), (i % 5).toInt))
        .toDF("vec_id", "embedding", "label").repartition(2)
        .write.mode(if (append) "append" else "overwrite")
        .parquet(s"$dir/embeddings.parquet")
    // ids 0..6: NOTHING matches either %10==7 rule at founding
    writeEmb((0L until 7L), append = false)
    val ivf = IvfConfig(centroidEvery = 10, centroidKey = 7,
      frozen = true, driftFractionMax = 1.0)
    val pq = PqConfig(cwEvery = 10, cwKey = 7,
      frozen = true, driftFractionMax = 1.0)
    Staged.evict(spark)
    Staged.enablePersist(Files.createTempDirectory("inc_empty").toString)
    try {
      def ivfIds(): Set[Long] =
        SimilarityQueries.frozenCentroids(spark, dir, ivf)
          .select("cid").collect().map(_.getLong(0)).toSet
      def pqIds(): Set[Long] =
        SimilarityQueries.frozenPqCodebook(spark, dir, pq)
          .select("cw_id").collect().map(_.getLong(0)).toSet
      assert(ivfIds() === Set.empty && pqIds() === Set.empty,
        "founding over a rule-free corpus is legitimately empty")
      // the first drop carrying rule ids: the empty-live gate refuses
      // unconditionally (the drift fraction never even gets to decide)
      writeEmb(Seq(7L, 8L, 17L), append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      assert(ivfIds() === Set(7L, 17L),
        "the quantizer must re-found, not stay empty")
      assert(modes("ivf_centroids.v2@10:7:2:d1.0") ===
        Seq("delta-refused", "cold"),
        s"empty-founded quantizer must refuse: ${Staged.buildLogSnapshot}")
      assert(pqIds() === Set(7L, 17L),
        "the codebook must re-found, not stay empty")
      assert(modes("pq_codebook@10:7:8x8:d1.0") ===
        Seq("delta-refused", "cold"),
        s"empty-founded codebook must refuse: ${Staged.buildLogSnapshot}")
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("schema drift on a rebuildable stage self-heals: delta refuses, cold rebuild writes the current schema (r16 review)") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = freshDir()
    writeDocs(dir, 0 until 20, append = false)
    Staged.evict(spark)
    Staged.enablePersist(Files.createTempDirectory("inc_sd_rb").toString)
    try {
      // binary v1 persisted (doc_id, n) under this name
      Staged.rebuildable(spark, dir, "sd@rb", "documents", "doc_id")(
        (prior, delta) => prior.unionByName(
          delta.selectExpr("doc_id", "length(text) AS n"))) {
        spark.read.parquet(s"$dir/documents.parquet")
          .selectExpr("doc_id", "length(text) AS n")
      }.count()
      // binary v2: the lambda expects a `flag` column the persisted
      // prior does not have — construction throws AnalysisException,
      // which must become a delta refusal + self-healing cold rebuild,
      // NOT a crash repeated on every resolution
      writeDocs(dir, 20 until 30, append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      def v2() = Staged.rebuildable(spark, dir, "sd@rb", "documents",
        "doc_id")((prior, delta) => prior.unionByName(
          delta.selectExpr("doc_id", "length(text) AS n")
            .withColumn("flag", lit(true)))
          .filter(col("flag") === col("flag"))) {
        spark.read.parquet(s"$dir/documents.parquet")
          .selectExpr("doc_id", "length(text) AS n")
          .withColumn("flag", lit(true))
      }
      val healed = v2()
      assert(modes("sd@rb") === Seq("delta-refused", "cold"),
        s"schema drift must refuse then self-heal: " +
          s"${Staged.buildLogSnapshot}")
      assert(healed.columns.toSeq === Seq("doc_id", "n", "flag"))
      assert(healed.count() === 30)
      // and the healed stage delta-builds again on the NEXT append
      writeDocs(dir, 30 until 35, append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      assert(v2().count() === 35)
      assert(modes("sd@rb") === Seq("delta"),
        s"healed stage must be delta-capable: ${Staged.buildLogSnapshot}")
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("schema drift on an appendable stage refuses the mixed-schema union and rebuilds cold (r16 review)") {
    val dir = freshDir()
    writeDocs(dir, 0 until 20, append = false)
    Staged.evict(spark)
    Staged.enablePersist(Files.createTempDirectory("inc_sd_ap").toString)
    try {
      Staged.appendable(spark, dir, "sd@ap", "documents", "doc_id")(
        docs => docs.selectExpr("doc_id", "length(text) AS n")) {
        spark.read.parquet(s"$dir/documents.parquet")
          .selectExpr("doc_id", "length(text) AS n")
      }.count()
      // v2 renames the output column: a delta segment with a different
      // shape must never join the prior segments' union manifest (the
      // multi-segment scan would silently mis-read) — refuse, cold
      writeDocs(dir, 20 until 30, append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      val healed = Staged.appendable(spark, dir, "sd@ap", "documents",
        "doc_id")(
        docs => docs.selectExpr("doc_id", "length(text) AS chars")) {
        spark.read.parquet(s"$dir/documents.parquet")
          .selectExpr("doc_id", "length(text) AS chars")
      }
      assert(modes("sd@ap") === Seq("delta-refused", "cold"),
        s"mixed-schema union must refuse: ${Staged.buildLogSnapshot}")
      assert(healed.columns.toSeq === Seq("doc_id", "chars"))
      assert(healed.count() === 30)
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("recordedCandidateMax: the dead-candidate set is bounded by a counted gate that re-founds past the cap (r16 review)") {
    import spark.implicits._
    import operators.{IvfConfig, SimilarityQueries}
    val dir = freshDir()
    def vec(i: Int): Array[Float] =
      Array.tabulate(64)(d => (((i * 31 + d * 7) % 13) - 6).toFloat / 6f)
    def writeEmb(ids: Seq[Long], append: Boolean): Unit =
      ids.map(i => (i, vec(i.toInt), (i % 5).toInt))
        .toDF("vec_id", "embedding", "label").repartition(2)
        .write.mode(if (append) "append" else "overwrite")
        .parquet(s"$dir/embeddings.parquet")
    writeEmb((0L until 40L), append = false)
    // cap 0: ANY rule-id candidate exceeds the recorded budget; the
    // loose drift bound (1.0) guarantees only the cap can refuse
    val cfg = IvfConfig(centroidEvery = 10, centroidKey = 7,
      frozen = true, driftFractionMax = 1.0, recordedCandidateMax = 0L)
    val stage = "ivf_centroids.v2@10:7:2:d1.0:c0"
    def centIds(): Set[Long] =
      SimilarityQueries.frozenCentroids(spark, dir, cfg)
        .select("cid").collect().map(_.getLong(0)).toSet
    Staged.evict(spark)
    Staged.enablePersist(Files.createTempDirectory("inc_cap").toString)
    try {
      assert(centIds() === Set(7L, 17L, 27L, 37L))
      // a candidate-free drop stays delta even at cap 0 (the gate
      // counts recorded candidates, not appends)
      writeEmb(Seq(40L, 41L, 42L), append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      assert(centIds() === Set(7L, 17L, 27L, 37L))
      assert(modes(stage) === Seq("delta"),
        s"candidate-free appends must stay delta: " +
          s"${Staged.buildLogSnapshot}")
      // rule id 47 arrives: 1 recorded candidate > cap 0 — the counted
      // gate refuses and the re-found (which a true re-train equals)
      // absorbs the candidate as a LIVE centroid, resetting the dead set
      writeEmb(Seq(45L, 46L, 47L), append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      assert(centIds() === Set(7L, 17L, 27L, 37L, 47L),
        "the re-found set runs the rule over the grown corpus")
      assert(modes(stage) === Seq("delta-refused", "cold"),
        s"past the cap the gate must re-found: ${Staged.buildLogSnapshot}")
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("real pipeline: ANN sign-bucket and quantized stages delta-build over appended embeddings") {
    import spark.implicits._
    val dir = freshDir()
    def writeEmb(ids: Range, append: Boolean): Unit = {
      val rows = ids.map { i =>
        (i.toLong,
          Array.tabulate(64)(d => (((i * 31 + d * 7) % 13) - 6).toFloat / 6f),
          i % 5)
      }
      rows.toDF("vec_id", "embedding", "label").repartition(2)
        .write.mode(if (append) "append" else "overwrite")
        .parquet(s"$dir/embeddings.parquet")
    }
    writeEmb(0 until 40, append = false)
    val queries = Seq("ann_topk_lsh", "ann_topk_int8")
      .filter(SparkEntry.queries.contains)
    def collectSorted(name: String): Seq[String] = {
      Staged.reset(spark)
      SparkEntry.queries(name)(spark, dir)
        .collect().map(_.toString).sorted.toSeq
    }
    Staged.evict(spark)
    try {
      Staged.enablePersist(Files.createTempDirectory("inc_emb_a").toString)
      queries.foreach(collectSorted)
      writeEmb(40 until 55, append = true)
      Staged.clearBuildLog()
      val incremental = queries.map(q => q -> collectSorted(q)).toMap
      assert(modes("normed_embeddings").headOption.contains("delta"),
        s"normed stage must delta-build: ${Staged.buildLogSnapshot.take(12)}")
      // q8's transform lambda emits containsNull=false arrays while the
      // prior segments read back containsNull=true — the schema probe
      // must compare nullability-free (r16: DataType equality here
      // refused every legitimate q8 delta)
      assert(modes("q8_embeddings").headOption.contains("delta"),
        s"q8 stage must delta-build: ${Staged.buildLogSnapshot.take(12)}")
      Staged.disablePersist()
      Staged.reset(spark)
      val session = queries.map(q => q -> collectSorted(q)).toMap
      for (q <- queries)
        assert(incremental(q) === session(q),
          s"$q drifted between incremental staging and in-session mode")
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("frozen cell-bounds stage: radii delta-merge on append, exact vs a cold rebuild, re-found with the centroids (r18)") {
    import spark.implicits._
    import operators.{IvfConfig, SimilarityQueries}
    val dir = freshDir()
    def writeEmb(ids: Seq[Long], append: Boolean): Unit = {
      val rows = ids.map { i =>
        (i, Array.tabulate(64)(d =>
          (((i * 31 + d * 7) % 13) - 6).toFloat / 6f), (i % 5).toInt)
      }
      rows.toDF("vec_id", "embedding", "label").repartition(2)
        .write.mode(if (append) "append" else "overwrite")
        .parquet(s"$dir/embeddings.parquet")
    }
    writeEmb(0L until 30L, append = false)
    val cfg = IvfConfig(centroidEvery = 10, centroidKey = 7,
      frozen = true, driftFractionMax = 1.0)
    def bounds(): Map[Long, Long] = {
      Staged.reset(spark)
      SimilarityQueries.ivfCellBounds(spark, dir, operators.Quantizer.Rule(cfg))
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    def boundModes(): Seq[String] = Staged.buildLogSnapshot.collect {
      case (s, m) if s.startsWith("ivf_cell_rr@") => m
    }
    val root = Files.createTempDirectory("rr_root").toString
    Staged.evict(spark)
    Staged.enablePersist(root)
    try {
      Staged.clearBuildLog()
      val founding = bounds()
      assert(founding.keySet === Set(7L, 17L, 27L),
        s"one radius per frozen centroid: $founding")
      assert(boundModes() === Seq("cold"), Staged.buildLogSnapshot.toString)
      assert(founding.values.forall(_ >= 0L))

      // append #1 — a GOLDEN merge: the fixture formula is 13-periodic
      // in vec_id, so every appended id 30-44 is an exact COPY of a
      // founding vector (same cosines → same cell under the cid-asc
      // tie-break, same sqdist). The delta must resolve, no new cells
      // may appear under frozen centroids, and every radius must come
      // back BIT-EQUAL to founding — a merge that mis-assigns the
      // delta, re-derives centroids, or double-counts fails this.
      writeEmb(30L until 45L, append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      val grown = bounds()
      assert(boundModes().contains("delta"),
        s"append must delta-merge the radii: ${Staged.buildLogSnapshot}")
      assert(grown === founding,
        s"copies of founding vectors must leave every radius unchanged: " +
          s"$founding vs $grown")

      // append #2 — a genuinely NEW vector far from its home centroid:
      // exactly one cell's radius must change, and it must GROW
      // (radii are append-monotone; max-merge can never shrink one)
      Seq((45L, Array.fill(64)(0.9f), 0))
        .toDF("vec_id", "embedding", "label")
        .write.mode("append").parquet(s"$dir/embeddings.parquet")
      Staged.reset(spark)
      Staged.clearBuildLog()
      val grown2 = bounds()
      assert(boundModes().contains("delta"),
        s"second append must also delta-merge: ${Staged.buildLogSnapshot}")
      val changed = grown2.filter { case (c, rr) => grown(c) != rr }
      assert(changed.size === 1,
        s"one far vector lands in one home cell: $grown vs $grown2")
      assert(changed.values.head > grown(changed.keys.head),
        s"the touched radius must grow: $grown vs $grown2")

      // warm reread hits
      Staged.reset(spark)
      Staged.clearBuildLog()
      bounds()
      assert(boundModes() === Seq("hit"), Staged.buildLogSnapshot.toString)

      // and the stage key re-founds with the centroid digest: a config
      // whose rule yields a different frozen set lands a DIFFERENT
      // bounds lineage (cold), never a delta over the old one
      val cfg2 = cfg.copy(centroidEvery = 15)
      Staged.reset(spark)
      Staged.clearBuildLog()
      val other = SimilarityQueries.ivfCellBounds(spark, dir,
        operators.Quantizer.Rule(cfg2))
        .collect().map(_.getLong(0)).toSet
      assert(other === Set(7L, 22L, 37L), s"rule ids under every=15: $other")
      assert(boundModes() === Seq("cold"),
        s"a different frozen lineage must cold-found its own bounds: " +
          s"${Staged.buildLogSnapshot}")
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("frozen PQ residual stage: per-vector rrv delta-appends, copies carry their originals' values (r18)") {
    import spark.implicits._
    import operators.{PqConfig, SimilarityQueries}
    val dir = freshDir()
    def writeEmb(ids: Seq[Long], append: Boolean): Unit = {
      val rows = ids.map { i =>
        (i, Array.tabulate(64)(d =>
          (((i * 31 + d * 7) % 13) - 6).toFloat / 6f), (i % 5).toInt)
      }
      rows.toDF("vec_id", "embedding", "label").repartition(2)
        .write.mode(if (append) "append" else "overwrite")
        .parquet(s"$dir/embeddings.parquet")
    }
    writeEmb(0L until 30L, append = false)
    val cfg = PqConfig(cwEvery = 10, cwKey = 1, frozen = true,
      driftFractionMax = 1.0)
    def resid(): Map[Long, Long] = {
      Staged.reset(spark)
      SimilarityQueries.pqResiduals(spark, dir, operators.Codebook.Rule(cfg))
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    def residModes(): Seq[String] = Staged.buildLogSnapshot.collect {
      case (s, m) if s.startsWith("pq_resid@") => m
    }
    val root = Files.createTempDirectory("resid_root").toString
    Staged.evict(spark)
    Staged.enablePersist(root)
    try {
      Staged.clearBuildLog()
      val founding = resid()
      assert(founding.keySet === (0L until 30L).toSet,
        "one residual per vector")
      assert(residModes() === Seq("cold"), Staged.buildLogSnapshot.toString)
      // codewords themselves reconstruct exactly: rrv == 0
      assert((1L until 30L by 10L).forall(founding(_) === 0L),
        s"codeword vectors must have zero residual: $founding")

      // the 13-periodic fixture makes appended ids 30-44 exact copies
      // of founding vectors: the stage must delta-append, and each
      // copy's rrv must equal its original's (same vector, same frozen
      // codebook, same encode)
      writeEmb(30L until 45L, append = true)
      Staged.reset(spark)
      Staged.clearBuildLog()
      val grown = resid()
      assert(residModes().contains("delta"),
        s"append must delta-build the residuals: ${Staged.buildLogSnapshot}")
      assert(grown.keySet === (0L until 45L).toSet)
      // every appended id i copies vec(i % 13), and all founding ids
      // with the same residue carry the SAME rrv — so each copy must
      // match its residue's value exactly
      val byResidue = founding.groupBy { case (id, _) => id % 13L }
        .map { case (r, m) => r -> m.values.toSet }
      assert(byResidue.values.forall(_.size === 1),
        s"fixture sanity: equal vectors must have equal residuals: $byResidue")
      for (i <- 30L until 45L)
        assert(grown(i) === byResidue(i % 13L).head,
          s"copy $i drifted from its original's residual")
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }
}
