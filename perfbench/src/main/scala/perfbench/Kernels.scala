package perfbench

import graft.Engine
import graft.functions._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** ns/row of the native kernels in `graft.functions`, each called
  * directly in one thread over the `documents` text loaded once into
  * memory. Every kernel's output folds into a checksum that is returned
  * with the timings, so the JIT cannot drop the work.
  */
object Kernels {
  /** A fixed BPE merge table (flattened pairs) of common English pairs. */
  private val merges = Array("t", "h", "e", "r", "i", "n", "a", "n", "o", "n", "e", "s",
    "th", "e", "in", "g", "e", "d", "o", "r")

  /** Median ns per item over five timed reps of `f` over `n` items. */
  private def nsPer(n: Int)(f: => Long): (Double, Long) = {
    var check = f // warm-up rep
    val reps = (1 to 5).map { _ =>
      val t = System.nanoTime()
      check += f
      (System.nanoTime() - t).toDouble / n
    }.sorted
    (reps(2), check)
  }

  /** Returns the `kernel.*` metrics and the number of rows timed. */
  def measure(spark: SparkSession, dataDir: String): (Seq[(String, Double)], Int) = {
    val texts: Array[UTF8String] = Engine.table(spark, dataDir, "documents")
      .select("text").collect().flatMap(r => Option(r.getString(0)))
      .map(UTF8String.fromString)
    val normalized: Array[UTF8String] = texts.map { t =>
      UTF8String.fromString(t.toString.toLowerCase
        .replaceAll("[\\t\\n\\x0b\\f\\r ]", " ").replaceAll("[^a-z ]", "#"))
    }
    val hashes: Array[ArrayData] = texts.map(ShingleHashes.compute(_, 5))
    val model: Array[Long] = {
      val counts = new Array[Long](28 * 28)
      normalized.foreach(BigramLm.countInto(_, counts))
      counts
    }
    val n = texts.length
    def over[A](xs: Array[A])(f: A => Long): Long = {
      var s = 0L; var i = 0
      while (i < xs.length) { s += f(xs(i)); i += 1 }
      s
    }
    val timed = Seq(
      "shingle_hashes" -> nsPer(n)(over(texts)(t => ShingleHashes.compute(t, 5).numElements())),
      "minhash" -> nsPer(n)(over(hashes)(h => MinHashFromHashes.compute(h, 64)(0))),
      "simhash" -> nsPer(n)(over(hashes)(h => SimHash64FromHashes.compute(h))),
      "winnow" -> nsPer(n)(over(texts)(t => WinnowFingerprint.compute(t, 5, 4).numElements())),
      "word_grams" -> nsPer(n)(over(texts)(t => WordGrams.compute(t, 8).numElements())),
      "bpe_token_count" -> nsPer(n)(over(normalized)(t => BpeKernels.tokenCount(t, merges))),
      "bigram_lm" -> nsPer(n)(over(normalized)(t => BigramLm.compute(t, model))))
    // consecutive documents as pairs: ns per pair
    val pairs = (1 until n).toArray
    val jaccard = nsPer(pairs.length)(over(pairs)(i =>
      (JaccardSorted.compute(hashes(i - 1), hashes(i)) * 1e6).toLong))
    val checksum = (timed.map(_._2._2) :+ jaccard._2).sum
    System.err.println(s"[perfbench] kernel checksum $checksum over $n rows")
    (timed.map { case (k, (ns, _)) => s"kernel.$k.ns_per_row" -> ns } :+
      ("kernel.jaccard_sorted.ns_per_pair" -> jaccard._1), n)
  }
}
