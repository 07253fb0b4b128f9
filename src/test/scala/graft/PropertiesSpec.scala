package graft

import graft.functions.{JaccardSorted, ShingleHashes}
import graft.ops.{Aggregates, Dedup, Joins, Q4112}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests (SURVEY §5): invariants over random inputs, the
  * ScalaCheck complement to the fixed differential specs. Gens are
  * driven directly with fixed seeds (the scalatest-scalacheck bridge
  * isn't in the offline dependency cache) so failures are reproducible.
  */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  private def forAll[A](g: Gen[A], n: Int = 20)(f: A => Unit): Unit =
    (1 to n).foreach { i => f(g.pureApply(Gen.Parameters.default, Seed(4112L + i))) }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    (1 to 20).foreach { i =>
      f(ga.pureApply(Gen.Parameters.default, Seed(4112L + i)),
        gb.pureApply(Gen.Parameters.default, Seed(8224L + i)))
    }

  private def whenever(cond: Boolean)(body: => Unit): Unit = if (cond) body

  private val smallText: Gen[String] =
    Gen.listOfN(40, Gen.frequency(9 -> Gen.alphaNumChar, 3 -> Gen.const(' '),
      1 -> Gen.const('\t'))).map(_.mkString)

  test("jaccard_sorted ∈ [0,1], reflexive, symmetric (kernel level)") {
    forAll(smallText, smallText) { (a: String, b: String) =>
      val sa = ShingleHashes.compute(UTF8String.fromString(a), 3)
      val sb = ShingleHashes.compute(UTF8String.fromString(b), 3)
      val jab = JaccardSorted.compute(sa, sb)
      val jba = JaccardSorted.compute(sb, sa)
      val jaa = JaccardSorted.compute(sa, sa)
      assert(jab >= 0.0 && jab <= 1.0)
      assert(jab === jba)
      assert(jaa === 1.0)
    }
  }

  test("topIndices equals brute-force argsort for random vectors/centroids") {
    val genVec: Gen[Array[Float]] =
      Gen.listOfN(6, Gen.choose(-15, 15)).map(_.map(_.toFloat / 3f).toArray)
    forAll(genVec, Gen.listOfN(5, genVec)) { (v, cs) =>
      val cents = cs.map(_.map(_.toDouble)).toArray
      whenever(cents.nonEmpty) {
        val got = Seq(Tuple1(v)).toDF("v")
          .select(graft.functions.KmeansKernels
            .topIndices(col("v"), cents, cents.length).as("t"))
          .as[Seq[Int]].collect().head
        val dist = cents.map(c =>
          v.zip(c).foldLeft(0.0) { case (acc, (x, y)) =>
            val d = x.toDouble - y; acc + d * d
          })
        val want = dist.zipWithIndex.sortBy { case (d, i) => (d, i) }
          .map(_._2).toSeq
        assert(got === want)
      }
    }
  }

  test("shingle hashes are sorted, distinct, whitespace-collapse invariant") {
    forAll(smallText) { (a: String) =>
      val s = ShingleHashes.compute(UTF8String.fromString(a), 4)
      val arr = (0 until s.numElements()).map(s.getLong)
      assert(arr === arr.sorted)
      assert(arr.distinct.size === arr.size)
      val doubled = a.replace(" ", "  ")
      val s2 = ShingleHashes.compute(UTF8String.fromString(doubled), 4)
      assert((0 until s2.numElements()).map(s2.getLong) === arr)
    }
  }

  test("salted aggregation equals direct groupBy for arbitrary data") {
    val rows = Gen.listOfN(300, Gen.zip(Gen.choose(0L, 5L), Gen.choose(-100L, 100L)))
    forAll(rows) { (data: List[(Long, Long)]) =>
      whenever(data.nonEmpty) {
        val df = data.toDF("k", "v")
        val direct = df.groupBy($"k")
          .agg(sum($"v").as("sum_value"), count(lit(1)).as("cnt"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        val salted = Aggregates.saltedSumCount(df, $"k", $"v", saltBuckets = 4)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(salted === direct)
      }
    }
  }

  test("asof join equals the naive per-row maximum search") {
    val leftGen = Gen.listOfN(30, Gen.zip(Gen.choose(1L, 4L), Gen.choose(0L, 100L), Gen.choose(0L, 1000L)))
    val rightGen = Gen.listOfN(20, Gen.zip(Gen.choose(1L, 4L), Gen.choose(0L, 100L), Gen.choose(0L, 1000L)))
    forAll(leftGen, rightGen) { (l: List[(Long, Long, Long)], r: List[(Long, Long, Long)]) =>
      whenever(l.nonEmpty) {
        // unique (key, time) on the right so the match is deterministic
        val rr = r.groupBy(x => (x._1, x._2)).map(_._2.head).toList
        val ll = l.zipWithIndex.map { case ((k, t, _), i) => (k, t, i.toLong) }
        val got = Joins.asof(
          ll.toDF("k", "t", "lid"), rr.toDF("k", "t", "rid"),
          keyCols = Seq("k"), leftTime = "t", rightTime = "t",
          leftCols = Seq("lid"), rightCols = Seq("rid"))
          .collect().map(x => x.getLong(0) -> (if (x.isNullAt(1)) None else Some(x.getLong(1)))).toMap
        val expected = ll.map { case (k, t, lid) =>
          val matches = rr.filter(x => x._1 == k && x._2 <= t)
          lid -> (if (matches.isEmpty) None else Some(matches.maxBy(_._2)._3))
        }.toMap
        assert(got === expected)
      }
    }
  }

  test("FM estimate is within its power-of-two band for random cardinalities") {
    // PCSA with 2^12 partitions is only meaningful for n ≳ partitions:
    // below that, most bitmaps are empty and the sum floors near 2^12/PHI
    // — the reference accepts the overestimate because it sizes a hash
    // table with it (q4112.c:356-371). Test the working regime, plus the
    // small-n floor property (estimate never undershoots the truth by 4x).
    forAll(Gen.choose(8000, 40000), n = 8) { (n: Int) =>
      val df = (0 until n).map(i => Tuple1(i.toLong * 1099511628211L)).toDF("v")
      val est = Aggregates.distinctFm(df, $"v").collect().head.getLong(0)
      assert((est & (est - 1)) === 0L)
      assert(est >= n / 4 && est <= n.toLong * 8, s"n=$n est=$est")
    }
    forAll(Gen.choose(1, 3000), n = 4) { (n: Int) =>
      val df = (0 until n).map(i => Tuple1(i.toLong * 1099511628211L)).toDF("v")
      val est = Aggregates.distinctFm(df, $"v").collect().head.getLong(0)
      assert(est >= n / 4, s"n=$n est=$est undershoots")
    }
  }

  test("minhash signature agreement approximates jaccard") {
    // near-dup pair: signature agreement within ±0.35 of true jaccard
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    forAll(Gen.choose(0, 10)) { (edits: Int) =>
      val other = base.split(" ").zipWithIndex.map { case (w, i) =>
        if (i < edits) w.reverse else w
      }.mkString(" ")
      val sa = ShingleHashes.compute(UTF8String.fromString(base), 5)
      val sb = ShingleHashes.compute(UTF8String.fromString(other), 5)
      val truth = JaccardSorted.compute(sa, sb)
      val ma = graft.functions.MinHashFromHashes.compute(sa, 128)
      val mb = graft.functions.MinHashFromHashes.compute(sb, 128)
      val agree = ma.zip(mb).count { case (x, y) => x == y }.toDouble / 128
      assert(math.abs(agree - truth) < 0.35, s"edits=$edits truth=$truth agree=$agree")
    }
  }

  test("weightedSample keeps an identical row set under any partitioning") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = spark.range(1, 2000).select(col("id"),
      (pmod(col("id") * 37, lit(100))).as("w"))
    def kept(parts: Int): Set[Long] =
      graft.ops.Sampling.weightedSample(df.repartition(parts), col("id"), col("w"))
        .select("id").as[Long].collect().toSet
    val base = kept(1)
    assert(base === kept(7) && base === kept(32))
    assert(base.nonEmpty && base.size < 1999)
    // membership is the bucket predicate itself, independently replayed
    val expect = (1L until 2000L).filter { id =>
      val h = java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString).take(8), 16)
      (h % 100) < ((id * 37) % 100)
    }.toSet
    assert(base === expect)
  }

  test("morton interleave is injective over the bit domain and preserves prefix locality") {
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 4096).select(
      (col("id") % 64).as("a"), (col("id") / 64).cast("long").as("b"))
    val zs = df.select(graft.ops.Layout.mortonInterleave(col("a"), col("b"), 6).as("z"))
      .collect().map(_.getLong(0))
    // 64×64 grid → all 4096 z-values distinct (injectivity = decodability)
    assert(zs.distinct.length === 4096)
    // locality: equal high bit-pairs ⇔ same grid quadrant
    val quadrant = df.select((col("a") >= 32).cast("int") +
      (col("b") >= 32).cast("int") * 2).collect().map(_.getInt(0))
    zs.map(z => (z >> 10).toInt).zip(quadrant).foreach { case (zq, gq) =>
      assert(zq === gq, "z high bits must encode the grid quadrant")
    }
  }

  test("KMV sketch = k smallest distinct JVM-md5 priorities, for random multisets") {
    val genIds: Gen[List[Int]] =
      Gen.listOfN(300, Gen.choose(0, 150)) // heavy duplication on purpose
    forAll(genIds, n = 10) { ids =>
      val df = ids.toDF("id").repartition(5)
      val got = graft.ops.Kmv.sketch(df, col("id"), 32).as[Long].collect().toSeq
      // independent replay: JVM md5, first 15 hex chars, distinct, sorted
      val expect = ids.distinct.map { id =>
        java.lang.Long.parseLong(
          org.apache.commons.codec.digest.DigestUtils
            .md5Hex(id.toString).take(15), 16)
      }.distinct.sorted.take(32)
      assert(got == expect)
    }
  }

  test("KMV jaccard estimate is exact when both sets fit in the sketch") {
    // NDV(A), NDV(B) ≤ k ⇒ the sketches ARE the sets and the estimator
    // degenerates to the exact Jaccard (floored to basis points)
    val genA: Gen[List[Int]] = Gen.listOfN(60, Gen.choose(0, 40))
    val genB: Gen[List[Int]] = Gen.listOfN(60, Gen.choose(20, 60))
    forAll(genA, genB) { (a, b) =>
      val k = 128
      val skA = graft.ops.Kmv.sketch(a.toDF("id"), col("id"), k)
      val skB = graft.ops.Kmv.sketch(b.toDF("id"), col("id"), k)
      val est = graft.ops.Kmv.jaccardEstimate(skA, skB, k)
        .select(col("jaccard_bp_est")).as[Long].collect().head
      val (sa, sb) = (a.toSet, b.toSet)
      val exact = 10000L * sa.intersect(sb).size / math.max(sa.union(sb).size, 1)
      assert(est == exact)
    }
  }

  test("connected components: driver union-find and the distributed loop agree") {
    // chains up to 20 hops (some edges reversed) plus random pairs and
    // self-loops, a few edges repeated as-is and reversed; Int, Long or
    // mixed id columns; some lists carry one NULL endpoint, which the
    // driver path hands to the loop
    val pair = for (a <- Gen.choose(-10L, 80L); b <- Gen.choose(-10L, 80L)) yield (a, b)
    val genCase = for {
      hops <- Gen.choose(1, 20)
      base <- Gen.choose(-10L, 50L)
      flips <- Gen.listOfN(hops, Gen.oneOf(false, true))
      random <- Gen.listOfN(12, pair)
      loops <- Gen.listOfN(3, Gen.choose(-10L, 80L))
      dups <- Gen.choose(0, 6)
      ids <- Gen.oneOf("int", "long", "mixed")
      withNull <- Gen.frequency(4 -> false, 1 -> true)
    } yield {
      val chain = (0 until hops).map(i => (base + i, base + i + 1))
        .zip(flips).map { case (e, f) => if (f) e.swap else e }
      val all = chain ++ random ++ loops.map(x => (x, x))
      (all ++ all.take(dups) ++ all.take(dups).map(_.swap), ids, withNull, base)
    }
    forAll(genCase, n = 12) { case (edges, ids, withNull, base) =>
      val longs =
        if (withNull) (edges.map { case (a, b) => (Option(a), Option(b)) } :+
          ((None, Some(base)))).toDF("id_a", "id_b")
        else edges.toDF("id_a", "id_b")
      val pairs = ids match {
        case "int" => longs.select(col("id_a").cast("int").as("id_a"),
          col("id_b").cast("int").as("id_b"))
        case "mixed" => longs.select(col("id_a").cast("int").as("id_a"), col("id_b"))
        case _ => longs
      }
      def run(threshold: String) =
        withConf("spark.sql.autoBroadcastJoinThreshold", threshold) {
          Dedup.connectedComponents(pairs, "id_a", "id_b")
        }
      val (driver, loop) = (run("10485760b"), run("-1"))
      val local = driver.queryExecution.analyzed
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
      assert(local === !withNull, s"driver path taken: $local")
      assert(driver.schema === loop.schema)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
      assert(rows(driver) === rows(loop), s"ids=$ids edges=$edges")
    }
  }
  test("dense grouped average: both paths equal the hash plan around the threshold") {
    // random (g, v) with NULLs in both columns over 1-8 partitions; the
    // threshold is set one byte below (exchange plan) and at (driver
    // merge) partitions × domain × 16 B
    val genCase = for {
      n <- Gen.choose(1, 60)
      rows <- Gen.listOfN(n, Gen.zip(
        Gen.frequency(6 -> Gen.choose(-3L, 9L).map(Option(_)), 1 -> Gen.const(None)),
        Gen.frequency(6 -> Gen.choose(-50L, 500L).map(Option(_)), 1 -> Gen.const(None))))
      parts <- Gen.choose(1, 8)
    } yield (rows, parts)
    forAll(genCase, n = 12) { case (rows, parts) =>
      val gv = spark.createDataFrame(spark.sparkContext.parallelize(rows, parts)).toDF("g", "v")
      val expected = Q4112.part2(Seq((1L, 1L)).toDF("id", "price"),
        gv.select(lit(1L).as("itemId"), col("v").as("quantity"), col("g").as("storeId")),
        "id", "itemId", "price", "quantity", "storeId", Q4112.BroadcastHash).collect().head
      val fits = parts.toLong * 13 * 16L // 13 slots: g in [-3, 9]
      for ((threshold, merged) <- Seq((fits - 1, false), (fits, true))) {
        val got = withConf("spark.sql.autoBroadcastJoinThreshold", s"${threshold}b") {
          Q4112.denseGroupedAvg(gv, minGroup = -3L, domain = 13)
        }
        val local = got.queryExecution.optimizedPlan
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
        assert(local === merged, s"driver merge at threshold $threshold: $local")
        assert(got.collect().head === expected, s"parts=$parts rows=$rows")
      }
    }
  }
}
