package graft.text

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding subword tokenization (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units") — the
  * real-tokenizer upgrade over TextAnalysis's BPE-ish regex counter.
  * Beyond-reference surface (the reference ETL has no tokenizer): token
  * budgets, sequence packing, and dedup shingles all get more faithful
  * when counted in learned subword units rather than whitespace words.
  *
  * Scale shape:
  *   - '''train''' aggregates the corpus to a (word, freq) model table —
  *     one combinable groupBy, so shuffle volume is the corpus VOCABULARY
  *     (Heaps'-law sublinear), never the corpus — prunes it to `maxWords`
  *     rows, and only then collects. The collected object is a bounded
  *     MODEL (the k-means-centroid / Word2Vec-matrix posture, documented
  *     in SCALE.md "driver-resident model state"), not data. The greedy
  *     merge loop then runs in memory exactly once, like every published
  *     BPE trainer; running it as `numMerges` Spark jobs would put an
  *     argmax barrier per merge on the cluster for zero shuffle savings.
  *   - '''encode''' is a map-side native expression (no UDF, no shuffle);
  *     the ranked merge table rides inside the expression and is
  *     task-serialized once per executor core, ~16 bytes per merge.
  */
object Bpe {

  /** End-of-word sentinel appended to each word's final symbol so merges
    * cannot cross word boundaries and word-final units stay distinct from
    * word-internal ones ("er" vs "er</w>").
    */
  val DefaultEow = "</w>"

  /** One word's greedy tokenization: repeatedly merge the present
    * adjacent pair with the LOWEST merge rank until none applies —
    * the standard apply-side BPE loop.
    */
  def encodeWord(word: String, ranks: java.util.Map[String, Integer],
      eow: String): Array[String] = {
    if (word.isEmpty) return Array.empty
    val syms = new ArrayBuffer[String](word.length)
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      val n = Character.charCount(cp)
      syms += word.substring(i, i + n)
      i += n
    }
    syms(syms.length - 1) = syms(syms.length - 1) + eow
    var done = false
    while (!done && syms.length > 1) {
      var bestRank = Int.MaxValue
      var bestAt = -1
      var j = 0
      while (j < syms.length - 1) {
        val r = ranks.get(syms(j) + "\u0000" + syms(j + 1))
        if (r != null && r < bestRank) { bestRank = r; bestAt = j }
        j += 1
      }
      if (bestAt < 0) done = true
      else {
        // merge EVERY occurrence of the winning pair, left to right
        val left = syms(bestAt)
        val right = syms(bestAt + 1)
        var w = 0
        var rd = 0
        while (rd < syms.length) {
          if (rd < syms.length - 1 && syms(rd) == left && syms(rd + 1) == right) {
            syms(w) = left + right
            rd += 2
          } else {
            syms(w) = syms(rd)
            rd += 1
          }
          w += 1
        }
        syms.dropRightInPlace(syms.length - w)
      }
    }
    syms.toArray
  }

  /** Build the rank lookup the encoder uses ("left\u0000right" → index). */
  def rankTable(merges: Seq[(String, String)]): java.util.Map[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      m.putIfAbsent(l + "\u0000" + r, Integer.valueOf(i))
    }
    m
  }

  /** Learn `numMerges` merges from the corpus. The distributed part is
    * one combinable word-frequency aggregation pruned to the `maxWords`
    * most frequent words (ties broken by word, so the model is
    * deterministic at any partitioning); the merge loop itself is the
    * classic in-memory greedy argmax over the bounded model — highest
    * weighted pair count wins, ties broken by pair lexicographic order,
    * loop stops early when no pair occurs at least `minPairFreq` times.
    */
  def train(docs: DataFrame, textCol: String = "text", numMerges: Int = 100,
      maxWords: Int = 65536, minPairFreq: Long = 2L,
      eow: String = DefaultEow): Seq[(String, String)] = {
    // persisted (serialized, vocabulary-sized) because both the
    // histogram pass and the top-K pass read it — without the pin the
    // corpus-wide explode+count would execute twice
    val words = docs
      .select(explode(split(col(textCol), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // Exact frequency-threshold pre-prune before the top-K: Spark's
    // TakeOrderedAndProject merges numPartitions × maxWords rows in ONE
    // reduce task, which grows with the FLEET (measured: a 40 s
    // straggler at 10M docs / 128 partitions — the singleton 'extraN'
    // tail rode into every partition's local top-K). The frequency
    // histogram is tiny (distinct freq values), so find the largest f
    // with |{freq ≥ f}| ≥ maxWords and filter first — the top-K then
    // merges ~maxWords survivors regardless of partition count, and the
    // result is IDENTICAL (every dropped word ranks below maxWords).
    // limit(maxWords) bounds the collected histogram even when every
    // word has a distinct frequency: after maxWords distinct freq rows
    // the cumulative count is ≥ maxWords (each row counts ≥ 1 word), so
    // the threshold is always found within the limit
    val hist = words.groupBy(col("freq")).agg(count(lit(1)).as("n"))
      .orderBy(col("freq").desc).limit(maxWords).collect()
    var cum = 0L
    var threshold = 1L
    val it = hist.iterator
    var found = false
    while (it.hasNext && !found) {
      val r = it.next()
      cum += r.getLong(1)
      if (cum >= maxWords) { threshold = r.getLong(0); found = true }
    }
    val pruned = if (found) words.filter(col("freq") >= threshold) else words
    val model: Array[(String, Long)] = pruned
      .orderBy(col("freq").desc, col("word"))
      .limit(maxWords)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    words.unpersist()
    trainInMemory(model.toSeq, numMerges, minPairFreq, eow)
  }

  /** The merge loop on an already-aggregated (word, freq) model — split
    * out so the spec can drive it with hand-computable fixtures.
    */
  def trainInMemory(model: Seq[(String, Long)], numMerges: Int,
      minPairFreq: Long = 2L, eow: String = DefaultEow): Seq[(String, String)] = {
    var words: Array[(Long, Array[String])] = model.map { case (w, f) =>
      val ranks = java.util.Collections.emptyMap[String, Integer]()
      (f, encodeWord(w, ranks, eow)) // no merges yet = plain symbol split
    }.toArray
    val merges = new ArrayBuffer[(String, String)](numMerges)
    var round = 0
    var exhausted = false
    while (round < numMerges && !exhausted) {
      val counts = new java.util.HashMap[(String, String), Long]()
      words.foreach { case (f, syms) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          counts.merge(p, f, (a, b) => a + b)
          i += 1
        }
      }
      var best: (String, String) = null
      var bestCount = 0L
      counts.forEach { (p, c) =>
        if (c > bestCount || (c == bestCount && best != null &&
            Ordering[(String, String)].lt(p, best))) {
          best = p; bestCount = c
        }
      }
      if (best == null || bestCount < minPairFreq) exhausted = true
      else {
        merges += best
        words = words.map { case (f, syms) =>
          (f, mergeAll(syms, best._1, best._2))
        }
        round += 1
      }
    }
    merges.toSeq
  }

  private def mergeAll(syms: Array[String], l: String, r: String): Array[String] = {
    val out = new ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
        out += l + r; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Subword tokens for a whole whitespace-separated text, as a native
    * map-side expression (array<string>; null text → null).
    */
  def encode(text: Column, merges: Seq[(String, String)],
      eow: String = DefaultEow): Column =
    BpeEncodeExpression(text, merges, eow)

  /** Learned-subword token count — the drop-in upgrade for the
    * whitespace/regex counters feeding token budgets and packing.
    */
  def tokenCount(text: Column, merges: Seq[(String, String)],
      eow: String = DefaultEow): Column =
    size(encode(text, merges, eow))
}

/** Executor-side encode kernel: owns the rank table plus a bounded
  * word→tokens memo (real corpora repeat words; the memo turns the per-
  * word merge loop into a hash probe after first sight). Shared by the
  * interpreted eval and the generated code so the paths cannot diverge
  * (the PorterStemmerKernel discipline). Thread-safe: the memo is a
  * ConcurrentHashMap and entries are immutable arrays.
  */
final class BpeKernel(merges: Seq[(String, String)], eow: String)
    extends Serializable {
  @transient private lazy val ranks = Bpe.rankTable(merges)
  @transient private lazy val memo =
    new ConcurrentHashMap[String, Array[org.apache.spark.unsafe.types.UTF8String]]()
  private val MemoCap = 1 << 16

  def encodeText(text: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    import org.apache.spark.unsafe.types.UTF8String
    val out = new ArrayBuffer[AnyRef]()
    text.toString.split("\\s+").foreach { w =>
      if (w.nonEmpty) {
        var toks = memo.get(w)
        if (toks == null) {
          toks = Bpe.encodeWord(w, ranks, eow).map(UTF8String.fromString)
          if (memo.size < MemoCap) memo.putIfAbsent(w, toks)
        }
        out ++= toks
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}
