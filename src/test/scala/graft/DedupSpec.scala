package graft

import graft.ops.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat sleeps near the warm fire"
  private val nearDup = base.replace("lazy", "sleepy") // one-word edit
  private val unrelated =
    "completely different content about astrophysics and the thermodynamics of stellar cores"

  private lazy val docs = Seq(
    (1L, base),
    (2L, base.toUpperCase), // exact dup modulo normalization? (case differs)
    (3L, base.replaceAll(" ", "  ")), // exact dup modulo whitespace
    (4L, nearDup),
    (5L, unrelated))
    .toDF("doc_id", "text")

  test("exact dedup collapses case/whitespace variants") {
    val got = Dedup.exact(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(2))) // (keep_id, n_copies)
    // ids 1,2,3 normalize identically → one group of 3 keeping id 1
    assert(got.contains((1L, 3L)))
    assert(got.length === 3)
  }

  test("minhash LSH finds the near-dup pair and skips unrelated docs") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
      n = 5, numHashes = 64, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)), s"near-dup pair missing from $pairs")
    assert(!pairs.exists { case (a, b) => a == 5L || b == 5L },
      s"unrelated doc matched: $pairs")
  }

  test("minhash jaccard on identical-normalized docs is 1.0") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
      n = 5, numHashes = 64, bands = 16, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) === 1.0)
    assert(pairs((1L, 3L)) === 1.0)
  }

  test("simhash: identical docs at hamming 0, near-dups within 3") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", n = 5, maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs((1L, 2L)) === 0L)
    assert(pairs((1L, 3L)) === 0L)
    assert(!pairs.keySet.exists { case (a, b) => a == 5L || b == 5L })
  }

  test("exact n-gram jaccard: identical docs 1.0, threshold excludes unrelated") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) === 1.0)
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.keySet.exists { case (a, b) => a == 5L || b == 5L })
  }

  test("winnowPairs equals the all-pairs winnow screen (lossless inverted index)") {
    import graft.ops.TextAnalysis
    // production inverted-index form vs the exhaustive cross-join over
    // the same fingerprints: the shared-fingerprint screen is lossless
    // for threshold > 0, so the two pair sets must be EQUAL
    val got = Dedup.winnowPairs(docs, "doc_id", "text", k = 5, w = 4, threshold = 0.3)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    val prep = docs.select(col("doc_id").as("id"),
      TextAnalysis.winnowFingerprint(col("text"), k = 5, w = 4).as("fp"))
    val a = prep.select(col("id").as("id_a"), col("fp").as("fp_a"))
    val b = prep.select(col("id").as("id_b"), col("fp").as("fp_b"))
    val want = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), graft.functions.TextHashFunctions
        .jaccardSorted(col("fp_a"), col("fp_b")).as("j"))
      .filter(col("j") >= 0.3)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    assert(got === want, s"missed ${want.diff(got)} / extra ${got.diff(want)}")
    assert(want.contains((1L, 4L)), s"near-dup pair absent from baseline: $want")
  }

  test("winnowPairs maxDocFreq drops only boilerplate-bridged pairs") {
    // cap 1: every fingerprint shared by >1 doc is dropped, so NO pairs
    // survive the screen — the valve's extreme setting, proving it
    // bounds posting lists rather than corrupting surviving pairs
    val capped = Dedup.winnowPairs(docs, "doc_id", "text",
      k = 5, w = 4, threshold = 0.3, maxDocFreq = 1)
    assert(capped.count() === 0L)
  }

  test("winnowPairs excludes empty-fingerprint (empty-normalized) docs") {
    // EMPTY-normalized docs have EMPTY winnow sketches: no content, no
    // similarity evidence, no pairs — otherwise every empty doc shares
    // hash("") and all of them pair quadratically at jaccard 1.0.
    // Short-but-nonempty docs degrade to a whole-text hash (exact-
    // content evidence): distinct short docs pair with nothing,
    // identical ones still find each other
    val mixed = Seq(
      (1L, "ab"), (2L, "cd"), // distinct whole-text sketches: no pair
      (3L, "the quick brown fox jumps over the lazy dog"),
      (4L, "the quick brown fox jumps over the lazy dog again"),
      (5L, ""), (6L, ""),  // EMPTY: would pair at jaccard 1.0 without the guard
      (7L, "!!"))          // short non-ws text: whole-text hash, distinct
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(mixed, "doc_id", "text",
      k = 5, w = 4, threshold = 0.3)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    assert(!pairs.exists { case (a, b) => a <= 2L || b <= 2L || a >= 5L || b >= 5L },
      s"short/empty docs must pair with nothing: $pairs")
    assert(pairs === Set((3L, 4L)), s"the real near-dup pair survives: $pairs")
  }

  test("embedding LSH near-dup finds planted duplicate vectors") {
    val dim = 16
    def vec(seed: Int): Array[Float] =
      Array.tabulate(dim)(d => (((seed * 31 + d) * 2654435761L % 1000) / 500.0 - 1.0).toFloat)
    val emb = (Seq(
      (1L, vec(1)), (2L, vec(1)), // identical pair
      (3L, vec(7)), (4L, vec(9)), (5L, vec(11)))) // distinct directions
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingPairs(emb, "vec_id", "embedding", threshold = 0.99, planes = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"identical vectors not found: $pairs")
  }

  test("connected components label every near-dup cluster by its min id") {
    // two clusters + a 5-node chain (forces multiple propagation rounds)
    val pairs = Seq(
      (2L, 1L), (2L, 3L),                       // {1,2,3}
      (10L, 11L),                               // {10,11}
      (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L)) // chain {20..24}
      .toDF("id_a", "id_b")
    // the default threshold takes the driver union-find, −1 the loop
    for (threshold <- Seq("10485760b", "-1")) {
      val got = withConf("spark.sql.autoBroadcastJoinThreshold", threshold) {
        Dedup.connectedComponents(pairs, "id_a", "id_b")
      }.as[(Long, Long)].collect().toMap
      assert(got === Map(
        1L -> 1L, 2L -> 1L, 3L -> 1L,
        10L -> 10L, 11L -> 10L,
        20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L, 24L -> 20L),
        s"threshold $threshold")
    }
  }

  test("connected components: the loop reports its cap, the driver path has none") {
    // a 40-node chain needs 39 rounds; the loop stops at maxIter = 25
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    def run(threshold: String): (Map[Long, Long], String) = {
      val err = new java.io.ByteArrayOutputStream()
      val got = Console.withErr(err) {
        withConf("spark.sql.autoBroadcastJoinThreshold", threshold) {
          Dedup.connectedComponents(chain, "id_a", "id_b")
        }
      }.as[(Long, Long)].collect().toMap
      (got, err.toString)
    }
    val (capped, loopErr) = run("-1")
    assert(loopErr.contains("[cc] not converged after 25 rounds"), loopErr)
    assert(capped(40L) > 1L, "the capped loop cannot have reached the chain's end")
    val (exact, driverErr) = run("10485760b")
    assert(exact === (1L to 40L).map(_ -> 1L).toMap)
    assert(!driverErr.contains("[cc]"), driverErr)
  }

  test("connected components: an empty or all-NULL pair list gives the same rows on both paths") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val allNull = Seq[(Option[Long], Option[Long])]((None, None), (None, None))
      .toDF("id_a", "id_b")
    for (pairs <- Seq(empty, allNull)) {
      def run(threshold: String) = withConf("spark.sql.autoBroadcastJoinThreshold", threshold)(
        Dedup.connectedComponents(pairs, "id_a", "id_b"))
      val (driver, loop) = (run("10485760b"), run("-1"))
      assert(driver.schema === loop.schema)
      assert(loop.collect().isEmpty && driver.collect().isEmpty)
    }
  }

  test("shingles: short text degrades to whole-string shingle") {
    val got = docs.sparkSession.range(1)
      .select(Dedup.shingles(lit("ab"), n = 5).as("sh"))
      .collect().head.getSeq[String](0)
    assert(got === Seq("ab"))
  }

  test("containment is directional: the quote is contained, the host is not") {
    // doc 2 is a verbatim chunk of doc 1 plus nothing else: C(2→1) = 1,
    // while C(1→2) is small because doc 1 has a long unique tail — the
    // asymmetric pair Jaccard-style dedup misses by design
    val quote = "the quick brown fox jumps over the lazy dog"
    val host = quote + " while the orchestra tuned endless unrelated violins" +
      " and the archivist catalogued manuscripts nobody requested"
    val d = Seq((1L, host), (2L, quote), (3L, "completely different content here"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(d, "doc_id", "text", n = 5, thresholdBp = 9000)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === Set((2L, 1L)))
  }

  test("containmentPairs index screen equals the exact all-pairs string form") {
    // 30 docs, some engineered overlap; the hashed index form (no cap)
    // must reproduce the exact string-shingle pair set — same lossless
    // contract as winnowPairs, and the hash space (64-bit) is collision-
    // free at this scale
    val d = (1L to 30L).map { i =>
      val base = s"shared prefix words alpha beta gamma delta epsilon zeta"
      val text = if (i % 3 == 0) base + s" tail $i" else s"unique body $i " * 4
      (i, text)
    }.toDF("doc_id", "text")
    val hashed = Dedup.containmentPairs(d, "doc_id", "text", n = 5, thresholdBp = 7000)
      .select("id_a", "id_b", "n_a").as[(Long, Long, Long)].collect().toSet
    val prep = d.select(col("doc_id").as("id"),
      graft.functions.TextHashFunctions.shingleSet(col("text"), 5).as("sh"))
    val exact = prep.select(col("id").as("id_a"), col("sh").as("sh_a"))
      .crossJoin(prep.select(col("id").as("id_b"), col("sh").as("sh_b")))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("nc"),
        size(col("sh_a")).cast("long").as("n_a"))
      .filter(col("nc") * 10000L >= col("n_a") * 7000L)
      .select("id_a", "id_b", "n_a").as[(Long, Long, Long)].collect().toSet
    assert(hashed === exact)
    assert(exact.nonEmpty, "fixture must produce contained pairs")
  }

  test("incrementalWinnowPairs equals full recompute restricted to batch-touching pairs") {
    // 24 docs with engineered near-dup structure crossing the split:
    // pairs within standing, within batch, and across — incremental must
    // reproduce exactly the full pair set minus standing-only pairs
    val d = (1L to 24L).map { i =>
      val fam = i % 4 // 4 families of 6 near-identical docs
      (i, s"family $fam shares this long boilerplate sentence body" +
        s" with trailing marker ${i / 4}")
    }.toDF("doc_id", "text")
    val isBatch = col("doc_id") % 3 === 0
    val inc = Dedup.incrementalWinnowPairs(
      Dedup.winnowSketches(d.filter(!isBatch), "doc_id", "text", k = 5, w = 4),
      d.filter(isBatch), "doc_id", "text", k = 5, w = 4, threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val full = Dedup.winnowPairs(d, "doc_id", "text", k = 5, w = 4, threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val touching = full.filter { case (a, b) => a % 3 == 0 || b % 3 == 0 }
    assert(inc === touching)
    assert(touching.nonEmpty, "fixture must produce batch-touching pairs")
    assert(full.exists { case (a, b) => a % 3 != 0 && b % 3 != 0 },
      "fixture must also have standing-only pairs the incremental form skips")
    assert(touching.exists { case (a, b) => a % 3 == 0 && b % 3 == 0 },
      "fixture must have within-batch pairs")
    assert(touching.exists { case (a, b) => (a % 3 == 0) != (b % 3 == 0) },
      "fixture must have cross pairs")
  }

  test("incrementalWinnowPairs combined-corpus valve matches capped full recompute") {
    // the cap's df is a property of standing ∪ batch: a fingerprint at
    // df 4 (2 standing + 2 batch) must be dropped at cap 3 in BOTH forms
    val d = (1L to 20L).map { i =>
      (i, if (i <= 8) "boilerplate header every document shares " + s"unique tail $i"
          else s"distinct content number $i " * 3)
    }.toDF("doc_id", "text")
    val isBatch = col("doc_id") % 2 === 0
    def incAt(cap: Int) = Dedup.incrementalWinnowPairs(
      Dedup.winnowSketches(d.filter(!isBatch), "doc_id", "text", k = 5, w = 4),
      d.filter(isBatch), "doc_id", "text", k = 5, w = 4,
      threshold = 0.2, maxDocFreq = cap)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    def fullAt(cap: Int): Set[(Long, Long)] = {
      val all = Dedup.winnowPairs(d, "doc_id", "text",
        k = 5, w = 4, threshold = 0.2, maxDocFreq = cap)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      all.filter { case (a, b) => a % 2 == 0 || b % 2 == 0 }
    }
    assert(incAt(3) === fullAt(3))
    assert(incAt(3).subsetOf(incAt(Int.MaxValue)))
    assert(incAt(Int.MaxValue) === fullAt(Int.MaxValue))
  }

  test("incremental maintained-df valve and bloom probe equal the recount form") {
    // docs 1-8 share heavy boilerplate (df 8 — dropped at cap 3);
    // docs 21/22 are a RARE near-dup pair (df 2 fingerprints — kept),
    // one on each side of the batch split, so the capped set is
    // non-empty and the valve provably trips
    val d = ((1L to 20L).map { i =>
      (i, if (i <= 8) "boilerplate header every document shares " + s"unique tail $i"
          else s"distinct content number $i " * 3)
    } ++ Seq((21L, "rare duplicated passage appearing twice only"),
      (22L, "rare duplicated passage appearing twice only!"))).toDF("doc_id", "text")
    val isBatch = col("doc_id") % 2 === 0
    val standing = Dedup.winnowSketches(d.filter(!isBatch), "doc_id", "text", k = 5, w = 4)
    val sdf = graft.ops.ModelStore.winnowDfCounts(standing)
    def run(cap: Int, stored: Boolean, bloom: Boolean) =
      Dedup.incrementalWinnowPairs(standing, d.filter(isBatch),
        "doc_id", "text", k = 5, w = 4, threshold = 0.2, maxDocFreq = cap,
        standingDf = if (stored) Some(sdf) else None, bloomProbe = bloom)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val recount = run(3, stored = false, bloom = false)
    assert(run(3, stored = true, bloom = false) === recount,
      "stored-df valve must equal the window recount")
    assert(run(3, stored = true, bloom = true) === recount,
      "bloom prefilter must be lossless under the valve")
    val uncapped = run(Int.MaxValue, stored = false, bloom = false)
    assert(run(Int.MaxValue, stored = true, bloom = true) === uncapped,
      "bloom prefilter must be lossless uncapped")
    assert(recount.nonEmpty, "fixture must produce pairs under the cap")
    assert(recount !== uncapped, "fixture must make the valve trip")
  }

  test("updateStandingIndex upkeep is indistinguishable from rebuild") {
    val d = (1L to 20L).map { i =>
      (i, if (i <= 8) "boilerplate header every document shares " + s"unique tail $i"
          else s"distinct content number $i " * 3)
    }.toDF("doc_id", "text")
    val isBatch = col("doc_id") % 2 === 0
    val standing = Dedup.winnowSketches(d.filter(!isBatch), "doc_id", "text", k = 5, w = 4)
    val batchSk = Dedup.winnowSketches(d.filter(isBatch), "doc_id", "text", k = 5, w = 4)
    val (grownSk, grownDf) = Dedup.updateStandingIndex(
      standing, graft.ops.ModelStore.winnowDfCounts(standing), batchSk)
    val rebuiltSk = Dedup.winnowSketches(d, "doc_id", "text", k = 5, w = 4)
    val rebuiltDf = graft.ops.ModelStore.winnowDfCounts(rebuiltSk)
    assert(grownSk.select("id").as[Long].collect().sorted.toSeq ===
      rebuiltSk.select("id").as[Long].collect().sorted.toSeq)
    assert(grownSk.exceptAll(rebuiltSk).count() === 0)
    assert(rebuiltSk.exceptAll(grownSk).count() === 0)
    assert(grownDf.as[(Long, Long)].collect().toMap ===
      rebuiltDf.as[(Long, Long)].collect().toMap)
  }

  test("forgetFromStandingIndex equals rebuild on the surviving corpus") {
    val d = (1L to 20L).map { i =>
      (i, if (i <= 8) "boilerplate header every document shares " + s"unique tail $i"
          else s"distinct content number $i " * 3)
    }.toDF("doc_id", "text")
    val isGone = col("doc_id") % 3 === 0
    val standing = Dedup.winnowSketches(d, "doc_id", "text", k = 5, w = 4)
    val (kept, shrunk) = Dedup.forgetFromStandingIndex(
      standing, graft.ops.ModelStore.winnowDfCounts(standing),
      d.filter(isGone).select(col("doc_id").as("id")))
    val rebuiltSk = Dedup.winnowSketches(d.filter(!isGone), "doc_id", "text", k = 5, w = 4)
    val rebuiltDf = graft.ops.ModelStore.winnowDfCounts(rebuiltSk)
    assert(kept.exceptAll(rebuiltSk).count() === 0)
    assert(rebuiltSk.exceptAll(kept).count() === 0)
    assert(shrunk.as[(Long, Long)].collect().toMap ===
      rebuiltDf.as[(Long, Long)].collect().toMap)
    // zero-count fingerprints are gone, not zero-valued
    assert(shrunk.filter(col("df") <= 0).count() === 0)
    // deleting nothing is a no-op
    val (kept0, df0) = Dedup.forgetFromStandingIndex(
      standing, graft.ops.ModelStore.winnowDfCounts(standing),
      d.filter(col("doc_id") < 0).select(col("doc_id").as("id")))
    assert(kept0.exceptAll(standing).count() === 0)
    assert(df0.exceptAll(graft.ops.ModelStore.winnowDfCounts(standing)).count() === 0)
  }

  test("minhash signature skips null shingles instead of hashing them to a constant") {
    import graft.functions.TextHashFunctions
    // a null element must contribute NOTHING: mapping it to a constant
    // hash would plant an identical component into the signatures of
    // unrelated documents (a systematic false-candidate source), and
    // SimHash64 already skips nulls — the two kernels must agree
    val df = Seq(Tuple1(Seq[String]("ab", "bc", "cd")))
      .toDF("sh")
      .withColumn("withNull",
        concat(col("sh"), array(lit(null).cast("string"))))
      .select(
        TextHashFunctions.minhashSignature(col("sh"), 16).as("clean"),
        TextHashFunctions.minhashSignature(col("withNull"), 16).as("dirty"))
    val row = df.head()
    assert(row.getSeq[Long](0) === row.getSeq[Long](1))
  }

  test("containmentPairs maxDocFreq valve only drops pairs, never invents") {
    val d = (1L to 30L).map { i =>
      (i, if (i <= 10) "boilerplate header everyone shares " + s"unique $i"
          else s"distinct text number $i " * 3)
    }.toDF("doc_id", "text")
    val unbounded = Dedup.containmentPairs(d, "doc_id", "text", n = 5, thresholdBp = 5000)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val capped = Dedup.containmentPairs(d, "doc_id", "text", n = 5,
        thresholdBp = 5000, maxDocFreq = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped.subsetOf(unbounded))
  }
}
