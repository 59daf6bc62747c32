package graft

import org.apache.spark.sql.functions._
import dedup.Dedup

class DedupSpec extends SparkSpec {

  import spark.implicits._

  private lazy val docs = Dedup.augmented(Sources.documents(spark, sfDir)).cache()

  test("shingles: distinct word trigrams in order, short docs empty") {
    val r = Seq((1L, "a b c d e"), (2L, "x y"), (3L, "A  b\tC"))
      .toDF("doc_id", "text")
      .select(Dedup.shingles(col("text")).as("sh")).collect()
    assert(r(0).getSeq[String](0) === Seq("a b c", "b c d", "c d e"))
    assert(r(1).getSeq[String](0) === Seq.empty)
    assert(r(2).getSeq[String](0) === Seq("a b c")) // normalized case + whitespace
  }

  test("WordShingles: interpreted eval matches the codegen path and handles nulls") {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val e = functions.WordShingles(BoundReference(0, StringType, nullable = true), 3)
    val row = org.apache.spark.sql.catalyst.InternalRow(UTF8String.fromString("a b c d"))
    val got = e.eval(row).asInstanceOf[ArrayData].toArray[UTF8String](StringType).map(_.toString)
    assert(got.toSeq === Seq("a b c", "b c d"))
    assert(functions.WordShingles(Literal(null, StringType), 3).eval() === null)
    // codegen path: exercised via the Column API (plans show `* Generate`)
    val viaColumn = Seq(("a b c d")).toDF("text")
      .select(Dedup.shingles(col("text")).as("sh")).head.getSeq[String](0)
    assert(viaColumn === got.toSeq)
  }

  test("exact groups catch every case/whitespace-variant copy") {
    val groups = Dedup.exactGroups(docs, "doc_id", "text").cache()
    val dupGroups = groups.filter(col("n_copies") >= 2)
    // every +ExactOffset injection dedups with its source (a 'datum' rewrite of
    // a doc without the token 'data' also lands in a dup group, so ≥)
    val nExactInjected = Sources.documents(spark, sfDir)
      .filter(col("doc_id") % 11 === 0).count()
    assert(nExactInjected > 0 && dupGroups.count() >= nExactInjected)
    val byCopy = docs.filter(col("doc_id") >= Dedup.ExactOffset).count()
    val matched = dupGroups.filter(col("canonical_id") < Dedup.NearOffset).count()
    assert(byCopy === nExactInjected && matched === dupGroups.count())
  }

  test("jaccard: exact copy pairs score 1.0; tail-append pairs score high but < 1") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 0.5).cache()
    val exactPairs = pairs.filter(col("id_b") === col("id_a") + Dedup.ExactOffset)
    assert(exactPairs.count() > 0)
    assert(exactPairs.filter(col("jaccard") =!= 1.0).count() === 0)
    // tail-append strictly adds shingles → jaccard < 1, and for most docs
    // stays near-dup high (repetitive small-vocab docs can dip lower)
    // id_a < NearOffset keeps only base→junk-append pairs: (EditOffset+x, ExactOffset+x)
    // also differ by NearOffset and can legitimately be exact (no 'data' token)
    val nearPairs = Dedup.jaccardPairs(docs, "doc_id", "text", 0.0)
      .filter(col("id_b") === col("id_a") + Dedup.NearOffset && col("id_a") < Dedup.NearOffset).cache()
    assert(nearPairs.count() > 0)
    assert(nearPairs.filter(col("jaccard") >= 1.0).count() === 0)
    assert(nearPairs.agg(avg("jaccard")).head.getDouble(0) > 0.6)
  }

  test("LSH verified pairs are a subset of brute-force pairs with high recall") {
    val brute = Dedup.jaccardPairs(docs, "doc_id", "text", 0.6)
    val lsh = Dedup.lshVerifiedPairs(docs, "doc_id", "text", 0.6)
    val b = brute.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val l = lsh.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(l.subsetOf(b))
    assert(l.size.toDouble / b.size > 0.9, s"recall ${l.size}/${b.size}")
  }

  test("minhash signature has the configured width and is deterministic") {
    val sig = Seq((1L, "one two three four five six"))
      .toDF("doc_id", "text")
      .select(Dedup.minhashSignature(Dedup.shingles(col("text"))).as("sig"))
    val a = sig.head.getSeq[String](0)
    val b = sig.head.getSeq[String](0)
    assert(a.size === Dedup.NumHashes && a === b)
    assert(a.forall(_.matches("[0-9a-f]{32}")))
  }

  test("simhash is 64 bits of 0/1 and identical for normalized exact copies") {
    val sk = Dedup.simhash(docs, "doc_id", "text").cache()
    assert(sk.filter(!col("simhash").rlike(s"^[01]{${Dedup.SimhashBits}}$$")).count() === 0)
    val copies = sk.as("a").join(sk.as("b"), col("b.id") === col("a.id") + Dedup.ExactOffset)
    assert(copies.count() > 0)
    assert(copies.filter(col("a.simhash") =!= col("b.simhash")).count() === 0)
  }

  test("simhash band-key space disperses: far more possible keys than the old 256") {
    // The scale property the 64-bit sketch buys: each band key is 16 bits
    // (65 536 possible values per band vs 256 total before), so corpus-scale
    // bucket occupancy is O(N/65536) per band, not N/256. On the fixture:
    // distinct keys per band must be close to the number of docs (dissimilar
    // docs almost never share a band key), i.e. no crowding into a tiny
    // keyspace.
    val bitsPerBand = Dedup.SimhashBits / Dedup.SimhashBands
    assert(math.pow(2, bitsPerBand).toLong === 65536L)
    val sk = Dedup.simhash(docs, "doc_id", "text").cache()
    val nDocs = sk.count()
    val bands = sk.select(col("id"), posexplode(array(
      (0 until Dedup.SimhashBands).map(b =>
        substring(col("simhash"), b * bitsPerBand + 1, bitsPerBand)): _*)))
      .toDF("id", "band_idx", "band_key")
    val occupancy = bands.groupBy("band_idx", "band_key")
      .count().agg(max("count")).head.getLong(0)
    val distinctPerBand = bands.groupBy("band_idx")
      .agg(countDistinct("band_key").as("n")).agg(min("n")).head.getLong(0)
    // ~4/5 of docs get a unique key per band — the fixture injects ~30%
    // duplicates that SHOULD share keys with their source; dissimilar docs
    // almost never collide. With 8-bit bands (256 keys) this would be
    // impossible for nDocs >> 256.
    assert(distinctPerBand > (nDocs * 4) / 5,
      s"band keys crowd: $distinctPerBand distinct for $nDocs docs")
    assert(occupancy < 10, s"hottest band bucket holds $occupancy docs")
  }

  test("simhashPairs catches every exact-copy pair at hamming 0") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text").cache()
    val nExact = Sources.documents(spark, sfDir).filter(col("doc_id") % 11 === 0).count()
    val exact = pairs.filter(col("id_b") === col("id_a") + Dedup.ExactOffset && col("id_a") < Dedup.NearOffset)
    assert(exact.count() === nExact)
    assert(exact.filter(col("hamming") =!= 0).count() === 0)
    assert(pairs.filter(col("hamming") > Dedup.SimhashMaxHamming).count() === 0)
  }

  test("clusters: endpoints share a label, canonical is the min, singletons self-label") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 0.5, maxDocFreq = Some(10L))
      .cache()
    val cl = Dedup.clusters(docs, "doc_id", pairs).cache()
    // every pair's two ends landed in the same cluster
    val mismatched = pairs.as("p")
      .join(cl.as("a"), col("p.id_a") === col("a.doc_id"))
      .join(cl.as("b"), col("p.id_b") === col("b.doc_id"))
      .filter(col("a.cluster_id") =!= col("b.cluster_id"))
    assert(mismatched.count() === 0)
    // cluster label = min member id (it IS a member)
    val byCluster = cl.groupBy("cluster_id").agg(min("doc_id").as("mn"))
    assert(byCluster.filter(col("cluster_id") =!= col("mn")).count() === 0)
    // docs in no pair are their own cluster
    val inPairs = pairs.select(col("id_a").as("doc_id"))
      .union(pairs.select(col("id_b").as("doc_id"))).distinct()
    val singletons = cl.join(inPairs, Seq("doc_id"), "left_anti")
    assert(singletons.filter(col("doc_id") =!= col("cluster_id")).count() === 0)
    // every doc got exactly one label
    assert(cl.count() === docs.count())
  }

  test("contamination: every junk-appended copy flags its base eval doc at containment 1.0") {
    // Appending junk adds shingles but removes none → the train-side copy
    // contains 100% of its base (eval) doc's distinct shingles.
    val isEval = col("doc_id") % 5 === 0 && col("doc_id") < Dedup.NearOffset
    val hits = Dedup.contaminationPairs(
      docs.filter(!isEval), docs.filter(isEval), "doc_id", "text", 0.8).cache()
    val nEval = Sources.documents(spark, sfDir).filter(col("doc_id") % 5 === 0).count()
    assert(nEval > 0)
    val copies = hits.filter(col("train_id") === col("eval_id") + Dedup.NearOffset)
    assert(copies.count() === nEval)
    assert(copies.filter(col("containment") =!= 1.0).count() === 0)
    // containment is a ratio over the eval doc's shingles — never > 1
    assert(hits.filter(col("containment") > 1.0).count() === 0)
  }

  test("clusters: reliable-checkpoint rounds reach the same fixpoint as the persist path") {
    // A chain graph (diameter 7) forces several propagation rounds, so
    // both materialization paths genuinely iterate. Same fixpoint either
    // way; the checkpoint path must actually write durable round files
    // into the configured directory.
    val chainDocs = (1L to 8L).toSeq.toDF("doc_id")
    val chainPairs = (1L to 7L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val base = Dedup.clusters(chainDocs, "doc_id", chainPairs)
      .orderBy("doc_id").collect()
    assert(base.length === 8 && base.forall(_.getLong(1) === 1L))
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.conf.set(Dedup.CheckpointDirConf, dir)
    try {
      val ck = Dedup.clusters(chainDocs, "doc_id", chainPairs)
        .orderBy("doc_id").collect()
      assert(ck.toSeq === base.toSeq)
      def nFiles(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(nFiles).sum else 1
      assert(nFiles(new java.io.File(dir)) > 0, "no checkpoint files written")
    } finally spark.conf.unset(Dedup.CheckpointDirConf)
  }

  test("clusters: adversarial diameter — a 20-long chain converges in diameter+1 rounds, maxIters guard fires one short") {
    // The fixture's dup graphs are stars/chains of diameter <= 4; this is
    // the pathological shape the maxIters guard exists for. Chain
    // 1-2-...-21 has diameter 20: the min label advances one hop per
    // round, so the loop needs 20 rounds to reach the fixpoint plus ONE
    // detection round (the label-sum probe declares convergence when two
    // consecutive sums agree) = 21. maxIters = 21 must converge;
    // maxIters = 20 must fail LOUDLY (partial labels are never returned).
    val chainDocs = (1L to 21L).toDF("doc_id")
    val chainPairs = (1L to 20L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ok = Dedup.clusters(chainDocs, "doc_id", chainPairs, maxIters = 21)
      .orderBy("doc_id").collect()
    assert(ok.length === 21 && ok.forall(_.getLong(1) === 1L))
    val e = intercept[IllegalArgumentException] {
      Dedup.clusters(chainDocs, "doc_id", chainPairs, maxIters = 20)
        .orderBy("doc_id").collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // Same boundary on the reliable-checkpoint materialization path.
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_chain").toString
    spark.conf.set(Dedup.CheckpointDirConf, dir)
    try {
      val ck = Dedup.clusters(chainDocs, "doc_id", chainPairs, maxIters = 21)
        .orderBy("doc_id").collect()
      assert(ck.toSeq === ok.toSeq)
      val e2 = intercept[IllegalArgumentException] {
        Dedup.clusters(chainDocs, "doc_id", chainPairs, maxIters = 20).collect()
      }
      assert(e2.getMessage.contains("did not converge"))
    } finally spark.conf.unset(Dedup.CheckpointDirConf)
  }

  test("clustersStar ≡ clusters on the fixture pair graph (and on empty pairs)") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 0.5, maxDocFreq = Some(10L))
      .cache()
    val byProp = Dedup.clusters(docs, "doc_id", pairs)
      .orderBy("doc_id").collect().toSeq
    val byStar = Dedup.clustersStar(docs, "doc_id", pairs)
      .orderBy("doc_id").collect().toSeq
    assert(byStar === byProp)
    // no pairs at all: everything a singleton, no iteration
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val lone = Dedup.clustersStar(docs.limit(5), "doc_id", none)
    assert(lone.filter(col("doc_id") =!= col("cluster_id")).count() === 0)
    pairs.unpersist()
  }

  test("clustersStar: adversarial chain+hub converges in far fewer rounds than the diameter") {
    // The shape that motivates star contraction: a 40-long chain
    // (diameter 39 — min-label propagation needs 39 rounds + 1 to
    // detect) WELDED to a hub whose center is NOT the component min
    // (node 100 spanning 60..140), plus a separate pure hub. Star
    // contraction halves chain distances per round (O(log n)) and
    // flattens hubs in ~2 rounds; maxIters = 15 must be plenty where
    // label propagation would need 40+.
    val chain = (1L to 39L).map(i => (i, i + 1))          // 1-2-...-40
    val weld = Seq((40L, 100L))                           // chain joins the hub
    val hub = (60L to 140L).filter(_ != 100L).map(i => (math.min(i, 100L), math.max(i, 100L)))
    val hub2 = (200L to 240L).map(i => (200L, i + 1))     // separate star, min-centered
    val ids = ((1L to 40L) ++ (60L to 140L) ++ (200L to 241L) ++ Seq(500L)).distinct
    val docsDf = ids.toDF("doc_id")
    val pairsDf = (chain ++ weld ++ hub ++ hub2).toDF("id_a", "id_b")
    val got = Dedup.clustersStar(docsDf, "doc_id", pairsDf, maxIters = 15)
      .orderBy("doc_id").collect()
    // component 1: chain+weld+hub — min is 1; component 2: min 200;
    // 500 is a singleton
    got.foreach { r =>
      val (id, label) = (r.getLong(0), r.getLong(1))
      val expected =
        if (id <= 40L || (id >= 60L && id <= 140L)) 1L
        else if (id >= 200L && id <= 241L) 200L
        else id
      assert(label === expected, s"doc $id labeled $label, expected $expected")
    }
    // (Equivalence with min-label propagation is pinned on the fixture
    // graph in the test above; running propagation HERE would need 40
    // persist-path rounds — the borderline-lineage-depth regime star
    // contraction exists to avoid.)
  }

  test("clustersStar: reliable-checkpoint path reaches the same fixpoint; maxIters guard fires loudly") {
    val chainDocs = (1L to 21L).toDF("doc_id")
    val chainPairs = (1L to 20L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val base = Dedup.clustersStar(chainDocs, "doc_id", chainPairs)
      .orderBy("doc_id").collect()
    assert(base.length === 21 && base.forall(_.getLong(1) === 1L))
    val e = intercept[IllegalArgumentException] {
      Dedup.clustersStar(chainDocs, "doc_id", chainPairs, maxIters = 2)
        .orderBy("doc_id").collect()
    }
    assert(e.getMessage.contains("did not converge"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_star").toString
    spark.conf.set(Dedup.CheckpointDirConf, dir)
    try {
      val ck = Dedup.clustersStar(chainDocs, "doc_id", chainPairs)
        .orderBy("doc_id").collect()
      assert(ck.toSeq === base.toSeq)
      def nFiles(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(nFiles).sum else 1
      assert(nFiles(new java.io.File(dir)) > 0, "no checkpoint files written")
    } finally spark.conf.unset(Dedup.CheckpointDirConf)
  }

  test("lshNewDocs rejects overlapping batch/existing id spaces loudly") {
    val batch = Seq((1L, "a b c d e f"), (2L, "g h i j k l")).toDF("doc_id", "text")
    val existing = Seq((2L, "m n o p q r"), (3L, "s t u v w x")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.lshNewDocs(batch, existing, "doc_id", "text", 0.6)
    }
    assert(e.getMessage.contains("disjoint"))
    // disjoint spaces pass the guard and dedup normally
    val okExisting = Seq((10L, "a b c d e f"), (11L, "s t u v w x")).toDF("doc_id", "text")
    val survivors = Dedup.lshNewDocs(batch, okExisting, "doc_id", "text", 0.6)
      .collect().map(_.getLong(0)).toSet
    assert(survivors === Set(2L)) // doc 1 near-dups doc 10, doc 2 is new
  }

  test("stored-index incremental LSH equals the in-query path after a parquet round-trip") {
    val corpus = Dedup.augmented(Sources.documents(spark, sfDir))
    val isBatch = col("doc_id") % 10 === 0
    val inQuery = Dedup.lshNewDocs(corpus.filter(isBatch), corpus.filter(!isBatch),
      "doc_id", "text", 0.6).collect().map(_.getLong(0)).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_idx").toString
    Dedup.writeLshIndex(corpus.filter(!isBatch), "doc_id", "text", dir)
    val (bandE, shE) = Dedup.readLshIndex(spark, dir)
    val stored = Dedup.lshNewDocsAgainstIndex(corpus.filter(isBatch), bandE, shE,
      "doc_id", "text", 0.6).collect().map(_.getLong(0)).toSet
    assert(stored === inQuery)
    // the stored-path guard also rejects id collisions with the index
    val e = intercept[IllegalArgumentException] {
      Dedup.lshNewDocsAgainstIndex(corpus.filter(!isBatch).limit(1), bandE, shE,
        "doc_id", "text", 0.6)
    }
    assert(e.getMessage.contains("disjoint"))
  }

  test("stored-index probe equals lshNewDocs with a shingle-less doc and an in-batch near-dup pair") {
    val base = "a b c d e f g h i j k l m n"
    val existing = Seq(
      (10L, s"alpha beta gamma delta $base"),
      (11L, "one two three four five six seven eight nine ten eleven twelve")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "hi there"), // no word trigram: no shingles, no bands
      (2L, "red green blue yellow purple orange black white pink brown grey cyan teal navy"),
      (3L, "red green blue yellow purple orange black white pink brown grey cyan teal gold"),
      (4L, s"alpha beta gamma delta ${base.dropRight(1)}z"),
      (5L, "completely new words for this particular test document only here")
    ).toDF("doc_id", "text")
    val inQuery = Dedup.lshNewDocs(batch, existing, "doc_id", "text", 0.6)
      .collect().map(_.getLong(0)).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_probe").toString
    Dedup.writeLshIndex(existing, "doc_id", "text", dir)
    val (bandE, shE) = Dedup.readLshIndex(spark, dir)
    val stored = Dedup.lshNewDocsAgainstIndex(batch, bandE, shE, "doc_id", "text", 0.6)
      .collect().map(_.getLong(0)).toSet
    // 3 near-dups the earlier batch doc 2, 4 near-dups indexed doc 10;
    // the shingle-less doc 1 survives.
    assert(inQuery === Set(1L, 2L, 5L))
    assert(stored === inQuery)
    graft.util.Views.unpersistAll()
  }

  test("bucketed stored index: same survivors, exchange-free id aggregate, write-once, restart re-registration") {
    val corpus = Dedup.augmented(Sources.documents(spark, sfDir))
    val isBatch = col("doc_id") % 10 === 0
    val inQuery = Dedup.lshNewDocs(corpus.filter(isBatch), corpus.filter(!isBatch),
      "doc_id", "text", 0.6).collect().map(_.getLong(0)).toSet
    val base = Dedup.ensureLshIndexBucketed(spark, sfDir,
      corpus.filter(!isBatch), "doc_id", "text")
    val (bandE, shE) = Dedup.readLshIndexBucketed(spark, base)
    val stored = Dedup.lshNewDocsAgainstIndex(corpus.filter(isBatch), bandE, shE,
      "doc_id", "text", 0.6).collect().map(_.getLong(0)).toSet
    assert(stored === inQuery)
    // write-once: a second ensure with the same (sfDir, params) must probe
    // the marker and NOT rebuild
    val builds0 = util.Artifacts.builds.get
    Dedup.ensureLshIndexBucketed(spark, sfDir, corpus.filter(!isBatch),
      "doc_id", "text")
    assert(util.Artifacts.builds.get === builds0)
    // the layout property that fixes the sf1 scale-killer: an id-keyed
    // aggregate over the bucketed shingle store plans NO exchange (this is
    // exactly the signature aggregate's distribution requirement)
    val agg = shE.groupBy("id").agg(count(lit(1)).as("n"))
    agg.collect()
    assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
      "bucketed shingle scan should satisfy the id aggregate without a shuffle")
    // session-restart path: the in-memory catalog forgets tables across
    // JVMs but the files survive — re-registration from bare files is
    // metadata-only and restores the exchange-free property
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(warehouse, s"${base}_shingles")
    val dst = new org.apache.hadoop.fs.Path(warehouse, s"${base}_shingles_restartcopy")
    val fs = src.getFileSystem(conf)
    if (fs.exists(dst)) fs.delete(dst, true)
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, conf)
    spark.sql(s"DROP TABLE IF EXISTS ${base}_shingles_restartcopy")
    util.Artifacts.registerBucketedTable(spark, s"${base}_shingles_restartcopy",
      dst.toString, Dedup.IndexBuckets)
    val re = spark.table(s"${base}_shingles_restartcopy")
    assert(re.count() === shE.count())
    val agg2 = re.groupBy("id").agg(count(lit(1)).as("n"))
    agg2.collect()
    assert(!agg2.queryExecution.executedPlan.toString.contains("Exchange"),
      "re-registered table should carry the bucket spec")
    spark.sql(s"DROP TABLE IF EXISTS ${base}_shingles_restartcopy")
    if (fs.exists(dst)) fs.delete(dst, true)
  }

  test("stored self-dedup pairs equal the in-query tier; variants are disjoint write-once artifacts") {
    val corpus = Dedup.augmented(Sources.documents(spark, sfDir))
    val inQuery = Dedup.lshVerifiedPairs(corpus, "doc_id", "text", 0.6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = Dedup.ensureLshIndexBucketed(spark, sfDir, corpus,
      "doc_id", "text", variant = "full")
    val stored = Dedup.lshVerifiedPairsStored(spark, base, 0.6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stored === inQuery)
    assert(stored.nonEmpty, "fixture must contain verified near-dup pairs")
    // the `full` variant namespaces its own tables — it must NOT collide
    // with the incremental tier's (existing-subset) artifact base
    val baseIncr = Dedup.ensureLshIndexBucketed(spark, sfDir,
      corpus.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
    assert(base !== baseIncr)
    // write-once: a re-ensure with the same (sfDir, variant, params)
    // probes the marker, never rebuilds
    val builds0 = util.Artifacts.builds.get
    Dedup.ensureLshIndexBucketed(spark, sfDir, corpus, "doc_id", "text",
      variant = "full")
    assert(util.Artifacts.builds.get === builds0)
    // the verification stage's per-doc counts run exchange-free over the
    // id-bucketed shingle store (the layout property the stored tier buys)
    val (_, shE) = Dedup.readLshIndexBucketed(spark, base)
    val agg = shE.groupBy("id").agg(count(lit(1)).as("n"))
    agg.collect()
    assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
      "bucketed shingle scan should satisfy the per-doc count without a shuffle")
  }

  test("dictionary-encoded stored probe equals the string tier; dict is a dense sorted bijection") {
    val corpus = Dedup.augmented(Sources.documents(spark, sfDir))
    val isBatch = col("doc_id") % 10 === 0
    val base = Dedup.ensureLshIndexBucketed(spark, sfDir,
      corpus.filter(!isBatch), "doc_id", "text")
    val (bandE, shE) = Dedup.readLshIndexBucketed(spark, base)
    val viaStrings = Dedup.lshNewDocsAgainstIndex(corpus.filter(isBatch),
      bandE, shE, "doc_id", "text", 0.6).collect().map(_.getLong(0)).toSet
    val viaDict = Dedup.lshNewDocsAgainstIndexEncoded(corpus.filter(isBatch),
      base, "doc_id", "text", 0.6).collect().map(_.getLong(0)).toSet
    assert(viaDict === viaStrings)
    // The dictionary is a DENSE 0-based bijection in shingle sort order —
    // the replayable contract (DuckDB: row_number() OVER (ORDER BY sh)-1).
    val dict = spark.table(s"${base}_dict")
    val n = dict.count()
    assert(n === shE.select("sh").distinct().count())
    assert(dict.select("sid").distinct().count() === n)
    val mm = dict.agg(min("sid"), max("sid")).head()
    assert(mm.getLong(0) === 0L && mm.getLong(1) === n - 1)
    assert(dict.orderBy("sh").limit(1).select("sid").head().getLong(0) === 0L)
    // The encoded shingle table covers exactly the string store.
    val shids = spark.table(s"${base}_shids")
    assert(shids.count() === shE.count())
    // Verification's per-doc counts run exchange-free over the
    // id-bucketed encoded table (the layout property the tier exists for).
    val agg = shids.groupBy("id").agg(count(lit(1)).as("n"))
    agg.collect()
    assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
      "bucketed shids scan should satisfy the per-doc count without a shuffle")
    // The encoded guard rejects id collisions like the string tier.
    val e = intercept[IllegalArgumentException] {
      Dedup.lshNewDocsAgainstIndexEncoded(corpus.filter(!isBatch).limit(1),
        base, "doc_id", "text", 0.6)
    }
    assert(e.getMessage.contains("disjoint"))
  }

  test("bucketed append: build+append equals one-shot build, dict stays dense, scans stay exchange-free") {
    val corpus = Dedup.augmented(Sources.documents(spark, sfDir))
    val isBatch = col("doc_id") % 10 === 0
    val existing = corpus.filter(!isBatch)
    // The registry's split: 2/3 one-shot build, 1/3 appended.
    val baseA = Dedup.ensureLshIndexBucketedAppended(spark, sfDir,
      existing.filter(col("doc_id") % 3 =!= 1),
      existing.filter(col("doc_id") % 3 === 1), "doc_id", "text",
      variant = "apnd")
    val baseO = Dedup.ensureLshIndexBucketed(spark, sfDir, existing,
      "doc_id", "text")
    val probe = corpus.filter(isBatch)
    val viaAppended = Dedup.lshNewDocsAgainstIndexEncoded(probe, baseA,
      "doc_id", "text", 0.6).collect().map(_.getLong(0)).toSet
    val viaOneShot = Dedup.lshNewDocsAgainstIndexEncoded(probe, baseO,
      "doc_id", "text", 0.6).collect().map(_.getLong(0)).toSet
    assert(viaAppended === viaOneShot)
    // Append-equals-rebuild at the TABLE level: same (id, sh) multiset in
    // the shingle store, same per-doc encoded row counts.
    assert(spark.table(s"${baseA}_shingles").count() ===
      spark.table(s"${baseO}_shingles").count())
    assert(spark.table(s"${baseA}_shids").count() ===
      spark.table(s"${baseA}_shingles").count())
    // The extended dict is still a DENSE 0-based bijection (new shingles
    // took maxSid+1+rank) over the same shingle set as the one-shot dict.
    val dict = spark.table(s"${baseA}_dict")
    val n = dict.count()
    assert(n === spark.table(s"${baseO}_dict").count())
    assert(dict.select("sid").distinct().count() === n)
    val mm = dict.agg(min("sid"), max("sid")).head()
    assert(mm.getLong(0) === 0L && mm.getLong(1) === n - 1)
    // Bucketed APPENDS preserve the exchange-free id aggregate — the
    // whole point of appending through the bucket spec.
    val agg = spark.table(s"${baseA}_shids").groupBy("id")
      .agg(count(lit(1)).as("c"))
    agg.collect()
    assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
      "appended bucketed table must keep the exchange-free scan")
    // Write-once: a re-ensure probes the marker, never rebuilds.
    val builds0 = util.Artifacts.builds.get
    Dedup.ensureLshIndexBucketedAppended(spark, sfDir,
      existing.filter(col("doc_id") % 3 =!= 1),
      existing.filter(col("doc_id") % 3 === 1), "doc_id", "text",
      variant = "apnd")
    assert(util.Artifacts.builds.get === builds0)
  }

  test("candidate generation never pairs a doc with itself and is ordered") {
    val cand = Dedup.lshCandidates(docs, "doc_id", "text")
    assert(cand.filter(col("id_a") >= col("id_b")).count() === 0)
  }

  test("incremental LSH dedup agrees with the full verified-pair set") {
    val corpus = Dedup.augmented(Sources.documents(spark, sfDir))
    val out = SparkEntry.queries("dedup_incremental_lsh")(spark, sfDir).cache()
    assert(out.filter(col("doc_id") % 10 =!= 0).count() === 0)
    // Independent ground truth: the backfill pipeline's full pair set —
    // a batch doc survives iff it pairs with NO existing doc and NO
    // earlier batch doc.
    val pairs = Dedup.lshVerifiedPairs(corpus, "doc_id", "text", 0.6)
    val sym = pairs.select(col("id_a").as("me"), col("id_b").as("other"))
      .union(pairs.select(col("id_b").as("me"), col("id_a").as("other")))
    val rejected = sym
      .filter(col("me") % 10 === 0 &&
        (col("other") % 10 =!= 0 || col("other") < col("me")))
      .select(col("me").as("doc_id")).distinct()
    val expected = corpus.filter(col("doc_id") % 10 === 0).select("doc_id")
      .join(rejected, Seq("doc_id"), "left_anti")
    assert(out.except(expected).count() === 0 && expected.except(out).count() === 0)
    // The batch must contain real near-dups to drop, and real survivors.
    val nBatch = corpus.filter(col("doc_id") % 10 === 0).count()
    assert(out.count() > 0 && out.count() < nBatch)
    out.unpersist()
  }

  test("lshVerifiedPairs bucketCap suppresses a hot boilerplate bucket") {
    import spark.implicits._
    // 40 byte-identical boilerplate docs (one white-hot bucket in every
    // band: 780 candidate pairs uncapped) + 2 genuine near-dups.
    val boiler = (0 until 40).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog again and again"))
    val near = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (101L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"))
    val docs = (boiler ++ near).toDF("doc_id", "text")
    val uncapped = graft.dedup.Dedup
      .lshVerifiedPairs(docs, "doc_id", "text", 0.6).count()
    val capped = graft.dedup.Dedup
      .lshVerifiedPairs(docs, "doc_id", "text", 0.6, bucketCap = Some(10L))
    val cappedPairs = capped.collect().map(r => (r.getLong(0), r.getLong(1)))
    // The hot bucket (occupancy 40 > 10) is dropped from every band; the
    // small near-dup bucket survives untouched.
    assert(uncapped >= 780L + 1L, s"uncapped=$uncapped")
    assert(cappedPairs.toSeq == Seq((100L, 101L)), cappedPairs.mkString(","))
    graft.util.Views.unpersistAll()
  }
}
