package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.core.Sessions
import graft.dedup.Dedup
import graft.etl.EtlConfig
import graft.multimodal.{ImageHash, Media, MediaRow, Png}
import graft.streaming.{CorpusStream, CrawlFetch, CrawlStream, CrawlUpdate, LiteratureStream, MediaStream}

/** Scale soak: generates an sf1-equivalent documents + embeddings corpus
  * ENTIRELY as distributed expressions (spark.range + column builders —
  * no driver loops, no files, so the generator scales with the cluster
  * like the corpus it imitates) and runs the dedup → ANN → clean surface
  * end-to-end, recording per-stage wall time, shuffle volume, and spill.
  *
  * Purpose: the plan-shape specs PROVE the 100 TB design properties
  * (banded candidate generation, no cartesians, no corpus-wide windows);
  * this harness EXECUTES them at 10–50× the bench scale so the growth
  * curves (shuffle bytes vs docs, seconds vs docs) are measured, not
  * argued. Results land in SCALE.md.
  *
  * The corpus embeds known duplicate structure per 50-doc block:
  * ids ≡ 1,2 (mod 50) copy their block leader's text exactly (4% exact
  * dups) and id ≡ 3 (mod 50) appends one word to it (2% near-dups), so
  * dedup output sizes are predictable at any N and a soak run is also a
  * sanity check, not just a stopwatch.
  *
  * Every stage is one entry of [[stages]]: default stages run unless
  * GRAFT_SOAK_STAGES names a subset; explicit-only ones run only when
  * named. The three stream stages (`stream_admission`, `image_admission`,
  * `crawl_cdc`) drive a Structured Streaming writer over micro-batches
  * whose sizes are fixed ratios of the corpus size ([[streamSizes]]) and
  * check their planted per-batch counts; a broken count is a violation,
  * and a run with any violation exits non-zero. The explicit-only
  * `etl_pipeline` stage runs `EtlMain all` over a synthetic EPMC corpus
  * of the same size.
  *
  * Env: GRAFT_SOAK_DOCS (default 2,500,000; a multiple of 12,500),
  * GRAFT_SOAK_DIM (default 64), GRAFT_SOAK_STAGES (comma-separated stage
  * names), GRAFT_SOAK_MASTER (cluster manager address, default
  * local[SPARK_GRAFT_CPUS]). Prints one JSON line: per-stage {sec,
  * shuffle_bytes, spill_bytes, rows, task_skew[, batches]} plus totals
  * and violations; stderr carries one line per Spark stage and per
  * micro-batch.
  */
object ScaleSoak {

  /** The planted 50-block structure as projections of `spark.range`'s
    * `id`: ids ≡ 1,2,3 (mod 50) take their block leader's content as
    * `seed`, and id ≡ 3 is the `near` dup.
    */
  private val blockSeed = Seq(
    "case when id % 50 in (1, 2, 3) then (id div 50) * 50 else id end as seed",
    "cast(id % 50 = 3 as boolean) as near")

  /** English-looking deterministic text: 36 words — mostly content words
    * from a ~10k-word vocabulary, with an isolated English stopword every
    * 5th position (enough for langId, never two adjacent). Two generator
    * pitfalls are deliberately designed out, both discovered by running
    * this soak, not by review:
    *   - word choice mixes (seed, position) through xxhash64 — an AFFINE
    *     function of the seed collapses the corpus to `vocabulary`
    *     distinct texts (every seed ≡ mod p repeats), chaining band
    *     collisions into one giant dup component;
    *   - a repeating "the w<k> and" template makes EVERY shingle
    *     corpus-hot (df ≈ 30·N/vocab), so the DF cap drops a doc's whole
    *     shingle set and capped Jaccard pairs unrelated docs on the one
    *     surviving shingle. Isolated stopwords keep ≥2 content words in
    *     every shingle, so cross-doc shingle df stays ~1.
    * The lambda touches only its own variable and the projected `seed`
    * ATTRIBUTE (house rule: never capture an inline expression — it
    * re-evaluates per element).
    */
  def documents(spark: SparkSession, n: Long): DataFrame =
    documents(spark, n, spark.sparkContext.defaultParallelism)

  /** `parts` controls the GENERATOR's input split count — the knob a
    * real cluster turns automatically (a parquet scan yields ~128 MB
    * splits, so per-task state stays bounded as the corpus grows, and
    * executors scale the split count). local[k] fixes spark.range at k
    * splits regardless of N, so per-task partial-aggregate state grows
    * WITH the corpus — the mechanism behind the 10M stage-0 CPU
    * superlinearity the round-7 probe isolated (see SCALE.md
    * "clean_corpus decomposition").
    */
  def documents(spark: SparkSession, n: Long, parts: Int): DataFrame =
    spark.range(0, n, 1, parts).selectExpr("id as doc_id" +: blockSeed: _*)
      .selectExpr("doc_id", s"$textFromSeedSql as text")

  /** The seed → text expression shared by [[documents]] and the
    * stream_admission batches: expects `seed` (long), `near` (boolean) and
    * `doc_id` columns in scope.
    */
  def textFromSeedSql: String =
    """concat(
      |  concat_ws(' ', transform(sequence(0, 35),
      |    i -> case when i % 10 = 0 then 'the'
      |              when i % 10 = 5 then 'and'
      |              else concat('w', pmod(xxhash64(seed, i), 9973)) end)),
      |  case when near then concat(' of extra', doc_id) else ' of note' end
      |)""".stripMargin

  /** Deterministic unit-free embeddings: dim values in [-0.5, 0.5) from
    * xxhash64 of (seed, dim) — hashed, not affine, for the same
    * anti-collapse reason as [[documents]]. Near-dup vectors (the same
    * block structure as the text) differ in one component.
    */
  def embeddings(spark: SparkSession, n: Long, dim: Int): DataFrame =
    embeddings(spark, n, dim, spark.sparkContext.defaultParallelism)

  def embeddings(spark: SparkSession, n: Long, dim: Int, parts: Int): DataFrame =
    spark.range(0, n, 1, parts).selectExpr("id as vec_id" +: blockSeed: _*)
      .selectExpr(
        "vec_id",
        s"""transform(sequence(0, ${dim - 1}),
           |  d -> cast(pmod(xxhash64(seed, d), 1000) / 1000.0 - 0.5 as float)
           |) as base""".stripMargin,
        "near")
      .selectExpr(
        "vec_id",
        "case when near then concat(slice(base, 1, size(base) - 1), " +
          "array(cast(0.49 as float))) else base end as embedding")

  /** A 9×8 grey PNG whose pixels hash (seed, position) — ~uniform 64-bit
    * dHashes, unlike the oracle fixture's 251-class gradient. `near`
    * shifts the top-left pixel: a one-bit near-dup of the same seed.
    */
  private def png(seed: Long, near: Boolean): Array[Byte] =
    Png.encodeRgb(9, 8, (x, y) => {
      var v = java.lang.Long.remainderUnsigned(
        scala.util.hashing.byteswap64(seed * 72 + y * 9 + x), 251).toInt
      if (near && x == 0 && y == 0) v = (v + 3) % 251
      (v << 16) | (v << 8) | v
    })

  /** audio_fp_pairs' 260-sample WAV over hashed (seed, position)
    * samples; `near` perturbs sample 0.
    */
  private def wav(seed: Long, near: Boolean): Array[Byte] =
    Media.pcm16Wav(260) { i =>
      val v = java.lang.Long.remainderUnsigned(
        scala.util.hashing.byteswap64(seed * 260 + i), 251).toInt - 125
      if (near && i == 0) v + 60 else v
    }

  /** (doc_id, media_type, payload) PNG rows over a (doc_id, seed, near,
    * corrupt) frame; a corrupt row keeps only the 8-byte PNG signature.
    */
  private def pngs(rows: DataFrame): Dataset[MediaRow] = {
    import rows.sparkSession.implicits._
    rows.as[(Long, Long, Boolean, Boolean)].mapPartitions(_.map { case (id, seed, near, corrupt) =>
      val bytes = png(seed, near)
      MediaRow(id, "image/png", if (corrupt) java.util.Arrays.copyOf(bytes, 8) else bytes)
    })
  }

  /** Deterministic degree-2 random graph over ids [0, n): 2n edges, hubs
    * from pmod collisions.
    */
  private def hashEdges(spark: SparkSession, n: Long): DataFrame =
    Seq(7, 11).map(s => spark.range(n).selectExpr("id as src", s"pmod(xxhash64(id, $s), $n) as dst"))
      .reduce(_ unionAll _)

  /** Corpus sizes must be a multiple of this: the least size every stream
    * stage's batch ratios split into whole 50-doc blocks.
    */
  private val DocsStep = 12500L

  /** The stream stages' batch shapes at `docs`, as (initial, per-batch
    * parts, batches):
    *  - stream_admission: docs/25 signed up front, 25 batches of docs/25;
    *  - image_admission: docs/50 hashed up front, 10 batches of docs/125;
    *  - crawl_cdc: a first batch of 0.4·docs URLs, then 9 batches of
    *    docs/5 new + docs/5 revisits + docs/25 stale fetches.
    * At the 2.5M default these are the runs SCALE.md records. A size the
    * ratios cannot split exactly is rejected with the nearest valid one.
    */
  def streamSizes(docs: Long): Map[String, (Long, Seq[Long], Int)] = {
    val nearest = math.max(1L, math.round(docs.toDouble / DocsStep)) * DocsStep
    require(docs > 0 && docs % DocsStep == 0,
      s"GRAFT_SOAK_DOCS=$docs does not split into the stream stages' batches: " +
        s"use a multiple of $DocsStep (nearest: $nearest)")
    Map(
      "stream_admission" -> ((docs / 25, Seq(docs / 25), 25)),
      "image_admission" -> ((docs / 50, Seq(docs / 125), 10)),
      "crawl_cdc" -> ((2 * docs / 5, Seq(docs / 5, docs / 5, docs / 25), 10)))
  }

  /** Input splits and shuffle partitions: the cores, or one per 78,125
    * docs when that is more (32 at 2.5M, 128 at 10M) — partitions ∝ N,
    * so per-task state stays bounded as the corpus grows (SCALE.md
    * "clean_corpus decomposition", finding 3).
    */
  def partitions(docs: Long, cpus: Int): Int = math.max(cpus, ((docs + 78124) / 78125).toInt)

  /** One soak run: the session, corpus size, embedding dim and input
    * splits, and what the stream stages report back — the current
    * stage's [[BatchLog]] and the run's violations.
    */
  final class Run(val spark: SparkSession, val docs: Long, val dim: Int, val parts: Int) {
    lazy val corpus: DataFrame = documents(spark, docs, parts)
    lazy val emb: DataFrame = embeddings(spark, docs, dim, parts)
    private[ScaleSoak] var stage = ""
    private[ScaleSoak] var log: Option[BatchLog] = None
    private[ScaleSoak] val violations = new ConcurrentLinkedQueue[String]

    /** Record a broken pass criterion of the current stage. */
    def violate(msg: String): Unit = violations.add(s"$stage $msg")

    /** Start the current stage's per-batch log; its clock starts now. */
    def batchLog(): BatchLog = { val l = new BatchLog(spark, stage); log = Some(l); l }
  }

  /** One micro-batch: seconds since the previous batch ended (the first
    * from the stream's start), its named counts, and the session's
    * persisted RDDs when it was observed.
    */
  final case class Batch(id: Long, sec: Double, counts: Seq[(String, Long)], persistedRdds: Int) {
    def apply(name: String): Long = counts.collectFirst { case (`name`, v) => v }.getOrElse(0L)
    def json: String = (Seq(s""""batch":$id""", s""""sec":$sec""") ++
      counts.map { case (k, v) => s""""$k":$v""" } :+ s""""persisted_rdds":$persistedRdds""")
      .mkString("{", ",", "}")
  }

  /** The per-batch observer every stream stage shares. `observe` runs in
    * the stream's foreachBatch (one thread per query) and prints one
    * stderr line; `add` attaches counts known only after the stream ends.
    */
  final class BatchLog(spark: SparkSession, stage: String) {
    private var t = System.nanoTime()
    @volatile private var rows = Vector.empty[Batch]
    def batches: Seq[Batch] = rows

    def observe(id: Long, counts: (String, Long)*): Unit = {
      val b = Batch(id, (System.nanoTime() - t) / 1e9, counts, spark.sparkContext.getPersistentRDDs.size)
      rows :+= b
      System.err.println((f"[soak] $stage batch $id%2d ${b.sec}%6.2f s" +:
        counts.map { case (k, v) => s"$k $v" } :+ s"persisted_rdds ${b.persistedRdds}").mkString("  "))
      t = System.nanoTime()
    }

    def add(id: Long, counts: (String, Long)*): Unit =
      rows = rows.map(b => if (b.id == id) b.copy(counts = b.counts ++ counts) else b)

    def total(name: String): Long = rows.map(_(name)).sum
  }

  /** One soak stage: `body` runs it and returns its row count. */
  final case class Stage(name: String, default: Boolean, body: Run => Long)

  private def stage(name: String)(body: Run => Long) = Stage(name, default = true, body)
  private def probe(name: String)(body: Run => Long) = Stage(name, default = false, body)

  private def sinkCount(df: DataFrame): Long = { df.write.format("noop").mode("overwrite").save(); -1L }

  /** Run `f` with the given session confs, restoring each key's own prior
    * state after — an unset key goes back to unset, so Spark's built-in
    * default keeps governing later stages.
    */
  private def withConf[A](spark: SparkSession, confs: (String, String)*)(f: => A): A = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // range-built frames carry tiny size estimates, so any stage whose
  // join sides are actually corpus-sized must forbid broadcast or the
  // planner materializes multi-GB "small" sides on the driver (the
  // lsh payload stages hit this first; prefix_jaccard's 500k run died
  // on an attempted 10 GiB broadcast of the prefix stream)
  private def noBroadcast(spark: SparkSession)(f: => Long): Long =
    withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")(f)

  private def withTempDir[A](prefix: String)(f: Path => A): A = {
    val dir = Files.createTempDirectory(prefix)
    try f(dir) finally scala.util.Using.resource(Files.walk(dir)) {
      _.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    }
  }

  /** Write `batches` frames as one parquet file each under `dir/landing`
    * and return the stream that reads them back one file per micro-batch
    * (the zero-padded names fix the delivery order).
    */
  private def land(spark: SparkSession, dir: Path, batches: Int)(frame: Int => DataFrame): DataFrame = {
    (0 until batches).foreach(b => frame(b).coalesce(1).write.parquet(f"$dir/landing/b$b%04d.parquet"))
    spark.readStream.schema(frame(0).schema).option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/landing/*.parquet")
  }

  /** Every soak stage, in run order. */
  lazy val stages: Seq[Stage] = Seq(
    stage("exact_dedup")(r => Dedup.exact(r.corpus).count()),
    stage("minhash_pairs_clusters") { r =>
      val sigs = Dedup.minhashSignatures(r.corpus, numPerms = 8)
      Dedup.clusters(Dedup.minhashCandidates(sigs, numPerms = 8, bandSize = 2)).count()
    },
    stage("simhash_pairs")(r => Dedup.simhashPairs(Dedup.simhash(r.corpus)).count()),
    // same verified pair set, block-pair bucket keys — the soak's own
    // finding (single-band candidates grow ~N^2/2^16) motivated this;
    // the stage pair quantifies the candidate-volume win at each N
    stage("simhash_pairs_comb")(r => Dedup.simhashPairsCombinatorial(Dedup.simhash(r.corpus)).count()),
    stage("clean_corpus") { r =>
      graft.pipelines.CorpusClean(r.corpus, minQuality = 0.3, minJaccard = 0.5, maxShingleDf = 50).count()
    },
    // clean_corpus decomposition probes: the 10M isolated runs measured
    // the whole pipeline superlinear with a ~500 s straggler task; these
    // re-run each step of the chain in isolation so the per-stage skew
    // histogram names the culprit
    probe("clean_jaccard")(r => Dedup.jaccardPairs(r.corpus, minJaccard = 0.5, maxShingleDf = 50).count()),
    probe("clean_clusters") { r =>
      Dedup.clusters(Dedup.jaccardPairs(r.corpus, minJaccard = 0.5, maxShingleDf = 50)).count()
    },
    // growth probes for the round-7 pair operators: same capped-index
    // scale shape as clean_jaccard, different measures
    probe("containment_pairs") { r =>
      Dedup.containmentPairs(r.corpus, minContainment = 0.9, maxShingleDf = 50).count()
    },
    probe("cosine_pairs")(r => graft.text.TextSearch.cosinePairs(r.corpus, minCos = 0.5, maxDf = 50).count()),
    // every soak doc starts "the w…", so the default rangePrefix=2
    // collapses to ONE range bucket = one window partition holding the
    // whole corpus — exactly the occupancy knob the scaladoc names.
    // rangePrefix=8 reaches past the shared prefix into the hashed first
    // word (~10k distinct ranges); candidate volume stays (w−1)·N by
    // construction at every N.
    probe("sorted_neighborhood") { r =>
      Dedup.sortedNeighborhoodPairs(r.corpus, windowSize = 4, maxDist = 12, rangePrefix = 8).count()
    },
    // 37-token docs → 18 k-windows each; the planted 50-blocks (4
    // identical docs) sit under the df cap, so every block contributes
    // its full diagonal-run merge — linear in N blocks
    probe("exact_dup_spans")(r => Dedup.exactDupSpans(r.corpus, k = 20, maxWindowDf = 10).count()),
    // winnowed-fingerprint span-overlap pairs over the same planted
    // blocks; with the shared doc-keyed exchange the winnowing lineage
    // must execute ONCE (the anti-join-pushdown fix — session 8), so
    // wall should track the single fingerprint pass plus the capped
    // self-join, not 2× the map stage
    probe("overlap_pairs") { r =>
      graft.text.TextQuality.overlapPairs(graft.text.TextQuality.winnowedFingerprints(r.corpus),
        minShared = 2, maxFpDf = 10).count()
    },
    // "of note" is the 96%-of-corpus tail phrase — the HOT case: the
    // broadcast phrase filter keeps ~2N postings, the anchor-vote agg is
    // combinable, and no key sees more than a doc's occurrences
    probe("phrase_search")(r => graft.text.TextSearch.phraseSearch(r.corpus, Seq("of", "note")).count()),
    // token stream ~38N rows; 'the'/'and'/'of'/'note' are the planted
    // heavy keys — the CMS prune must drop the 9973-word hashed tail
    // map-side before the exact count
    probe("heavy_hitters") { r =>
      graft.functions.Sketches.heavyHitters(
        r.corpus.select(explode(split(col("text"), " ")).as("tok")), col("tok")).count()
    },
    // 3 fixed-point iterations over the hash graph
    probe("pagerank")(r => graft.graph.Graph.pageRank(hashEdges(r.spark, r.docs), iterations = 3).count()),
    // vocabulary here is ~10k hashed words plus one 'extraN' word per
    // near-dup row (~N/50 singleton words) — maxWords prunes the
    // singleton tail deterministically, so the collected model stays
    // bounded while the distributed word-count aggregation sees the full
    // Heaps tail; 50 merges over the 65k-word model is the in-memory
    // loop's cost, deliberately driver-side (model, not data)
    probe("bpe_train")(r => graft.text.Bpe.train(r.corpus, numMerges = 50).size.toLong),
    // map-side subword encode + count over the whole corpus under a
    // small fixed merge table: the per-token cost of the greedy merge
    // loop with the word memo hot (the corpus has ~10k distinct words)
    probe("bpe_encode") { r =>
      val merges = graft.text.Bpe.trainInMemory(
        Seq(("the", 50L), ("and", 40L), ("note", 30L), ("of", 20L),
          ("w1234", 10L), ("w999", 10L), ("extra7", 5L)), numMerges = 24, minPairFreq = 1L)
      sinkCount(r.corpus.select(col("doc_id"), graft.text.Bpe.tokenCount(col("text"), merges).as("n")))
    },
    // the pagerank graph, 3 sync rounds: per round one adjacency join +
    // two combinable aggs — shuffle should track pagerank's within a
    // small factor at every N
    probe("label_propagation") { r =>
      graft.graph.Graph.labelPropagation(hashEdges(r.spark, r.docs), rounds = 3).count()
    },
    // ~36N hashed trigrams; the 50-block dup structure gives planted
    // df>=2 shingles so the df join is never trivially all-novel
    probe("ngram_novelty")(r => graft.text.TextQuality.ngramNovelty(r.corpus).count()),
    // N fetches over ~N/3 pages in the d22 variant structure (case host
    // + tracking params + query-less form); content repeats per fetch
    // pair so changed/unchanged both occur. Group occupancy is the
    // per-page revisit count (<= 3) at every N.
    probe("url_latest_wins") { r =>
      val fetches = r.spark.range(0, r.docs, 1, r.parts).selectExpr(
        "id as fetch_ts",
        """concat(case when id % 3 = 0 then 'https://S' else 'https://s' end,
          |  pmod(id div 3, 9973), '.example.com/p/', id div 3,
          |  case when id % 3 = 1 then '?utm_source=x&a=1'
          |       when id % 3 = 2 then '?a=1' else '' end) as url""".stripMargin,
        "concat('c', id div 2) as content")
      graft.pipelines.CrawlSnapshots.latestWins(fetches).count()
    },
    // shot segmentation over STORED frame hashes (the decode stage is
    // codec-bound per the image/audio probes — this isolates the
    // doc-keyed lag-window + rollup shape): N frame rows = N/10 videos x
    // 10 frames, scene flip at frame 5 (hash base changes), +frame
    // perturbation within a scene (hamming ~2 vs ~32)
    probe("scene_cuts") { r =>
      val hashes = r.spark.range(0, r.docs, 1, r.parts).selectExpr(
        "id div 10 as doc_id",
        "cast(id % 10 as int) as frame_no",
        // XOR, not +: ANSI addition on a near-MAX hash would overflow;
        // the low-bit XOR keeps within-scene hamming <= 4 (vs ~32 across)
        "xxhash64(id div 10, case when id % 10 < 5 then 0 else 1 end) ^ (id % 10) as simhash")
      graft.multimodal.VideoHash.sceneCuts(hashes, threshold = 8).count()
    },
    // image near-dup end-to-end: [[png]] rows with the standard 50-block
    // planted structure (3 exact copies + 1 one-pixel near-dup per block
    // → 6 hamming<=1 pairs/block), encoded and REAL-decoded per row. The
    // pair stage sits in the text simhash banding regime — but the
    // measured 2.5M stage-detail A/B showed the END-TO-END stage is
    // CODEC-bound (decode ≈ 97% of task CPU, candidate join ~1% even
    // with candidates already quadratic), so the banding choice only
    // matters over STORED hashes, where the text curves transfer
    // directly (SCALE.md "Image near-dup banding A/B").
    probe("image_dhash_pairs") { r =>
      Dedup.simhashPairs(ImageHash.dhashDocs(imagePngs(r), r.spark)).count()
    },
    probe("image_dhash_pairs_comb") { r =>
      Dedup.simhashPairsCombinatorial(ImageHash.dhashDocs(imagePngs(r), r.spark)).count()
    },
    // tri-modal parity probe: 260-sample PCM WAVs with the standard
    // 50-block planted structure, real javax.sound decode → energy
    // fingerprint → the SAME banded pair join as text/image. Samples are
    // HASHED per (seed, i) — uniform 64-bit fingerprints, the sparse
    // banding regime (the oracle fixture's 251-class family would make
    // soak-scale bucket occupancy quadratic by design) — and near rows
    // perturb sample 0, the one-window near-dup.
    probe("audio_fp_pairs") { r =>
      import r.spark.implicits._
      val rows = r.spark.range(0, r.docs, 1, r.parts).selectExpr("id as doc_id" +: blockSeed: _*)
        .as[(Long, Long, Boolean)]
        .map { case (id, seed, near) => MediaRow(id, "audio/wav", wav(seed, near)) }
      Dedup.simhashPairs(graft.multimodal.AudioHash.fingerprintDocs(rows, r.spark)).count()
    },
    // 20 domains (one corpus-hot: half the corpus lands in domain d0),
    // budget 1M tokens each — the funnel the two-level range
    // construction must absorb: a per-domain window would put ~N/2 rows
    // in one task
    probe("token_budget_mixture") { r =>
      val domains = r.corpus.withColumn("dom",
        concat(lit("d"), when(col("doc_id") % 2 === 0, lit(0)).otherwise(pmod(col("doc_id"), lit(20)))))
      graft.dedup.Sampling.tokenBudgetMixture(domains, "doc_id", "dom",
        graft.text.TextAnalysis.wordCount(col("text")), budgetPerDomain = 1000000L).count()
    },
    // fit on a 4% hash sample (the published-pipeline posture: the
    // classifier needs exemplars, not the corpus), then score the full
    // corpus map-side — fit cost is LBFGS over sample×256 dense vectors,
    // score cost is the pure scan
    probe("lr_quality_score") { r =>
      val sample = r.corpus.filter(pmod(xxhash64(col("doc_id"), lit(5)), lit(25)) === 0)
        .withColumn("label", (col("doc_id") % 50 === 3).cast("double"))
      val (w, b) = graft.text.QualityClassifier.fit(sample, r.spark, maxIter = 10)
      sinkCount(graft.text.QualityClassifier.score(r.corpus, w, b))
    },
    // EXACT threshold join vs clean_jaccard's capped one, same corpus:
    // the soak's corpus-hot shingles ("and of note", df = 0.96·N) are
    // the stop-phrase keys that forced the df cap — under prefix
    // filtering they enter a doc's prefix only when the doc has almost
    // nothing rarer, so the hot postings never reach the join and no cap
    // (hence no recall caveat) is needed. Candidate volume should track
    // the planted near-dup density, linearly in N.
    probe("prefix_jaccard") { r =>
      val sh = Dedup.shingles(r.corpus).select(col("doc_id"), col("shingle").as("tok")).distinct()
      noBroadcast(r.spark)(graft.dedup.SimilarityJoin.prefixJaccardPairsOver(sh, minJaccard = 0.5).count())
    },
    // 16-hex-char entity names, one planted 1-char typo per 20 ids:
    // deletion-neighborhood keys are 17·N with bucket sizes ~2 (random
    // hex shares almost no subsequences), so candidates ≈ planted pairs
    // and the join is output-bound — the blocking claim at N
    probe("editdist_pairs") { r =>
      val names = r.spark.range(r.docs).selectExpr("id", "hex(xxhash64(id, 3)) AS name")
      val typos = r.spark.range(r.docs).filter(col("id") % 20 === 0)
        .selectExpr("id + 1000000000 AS id",
          // substitute the first char with one outside the hex alphabet
          "concat('Z', substr(hex(xxhash64(id, 3)), 2)) AS name")
      graft.dedup.SimilarityJoin.editDistancePairs(names.unionByName(typos), "name", "id").count()
    },
    // build + parse: 16 docs/file, gzip on the driver-prescribed
    // rotation; measures end-to-end container throughput (the build's
    // groupByKey is the fixture's cost, the parse is map-side)
    probe("warc_records") { r =>
      graft.sources.Warc.extractRecords(
        graft.sources.Warc.syntheticWarcFiles(r.corpus, r.spark), r.spark, lenient = true).count()
    },
    // pure map-side regex chain over a markup shell around each doc: the
    // per-MB cost of extraction, no shuffle anywhere
    probe("html_extract") { r =>
      val html = r.corpus.select(col("doc_id"),
        concat(lit("<html><head><title>D"), col("doc_id"),
          lit("</title><script>var x = 1;</script></head><body><p>"),
          col("text"), lit("</p><a href=\"x\">n</a></body></html>")).as("h"))
      html.select(length(graft.text.HtmlExtract.htmlToText(col("h"))).as("n"))
        .agg(sum(col("n"))).collect()
      r.corpus.count()
    },
    // ivfpq decomposition probes: the 2.5M run measured linear CPU (4.3×
    // for 5× data) concentrated in ~3 full-width uniform stages; these
    // attribute it to the components (coarse quantizer, codebook
    // training, code assignment) so the growth table names the owner
    probe("ivfpq_cells")(r => sinkCount(graft.ann.Ann.kmeansCells(r.emb, k = 64, iters = 1))),
    probe("ivfpq_codebooks")(r => sinkCount(graft.ann.Pq.codebooks(r.emb, dim = r.dim, m = 8, k = 16))),
    probe("ivfpq_encode") { r =>
      val books = graft.ann.Pq.codebooks(r.emb, dim = r.dim, m = 8, k = 16)
      sinkCount(graft.ann.Pq.encode(r.emb, books, dim = r.dim, m = 8))
    },
    // the billion-vector layout at soak scale: 64 coarse cells, m=8 ×
    // k=16 codebooks, 64 queries routed to nprobe=2 cells — ADC scores
    // (nprobe/kCells)·N code rows per query
    probe("ivfpq") { r =>
      val queries = r.emb.filter(col("vec_id") % (r.docs / 64) === 0)
      graft.ann.Pq.ivfAdcTopK(r.emb, queries, dim = r.dim, m = 8, k = 16,
        kCells = 64, nprobe = 2, topK = 10).count()
    },
    stage("kmeans_cells")(r => sinkCount(graft.ann.Ann.kmeansCells(r.emb, k = 64, iters = 2))),
    stage("ivf_search") { r =>
      val cells = graft.ann.Ann.kmeansCells(r.emb, k = 64, iters = 1).withColumnRenamed("cell", "label")
      val queries = r.emb.filter(col("vec_id") % (r.docs / 64) === 0)
      graft.ann.Ann.ivfSearch(r.emb.join(cells, "vec_id"), "label", queries, k = 10, nprobe = 2).count()
    },
    stage("int8_quantize")(r => sinkCount(graft.ann.Ann.quantizeInt8(r.emb))),
    // lsh_pairs_carry measures SHUFFLE-JOIN payload cost, so force
    // shuffle plans: vectors ride the band-key shuffle (2 exchanges,
    // dim-wide rows); GRAFT_SOAK_DIM sweeps its payload — see SCALE.md
    // lsh payload table
    stage("lsh_pairs_carry")(r => noBroadcast(r.spark)(graft.ann.Ann.lshPairs(r.emb, dim = r.dim).count())),
    stage("shuffle_order") { r =>
      sinkCount(graft.dedup.Sampling.shuffleOrder(r.corpus.select("doc_id"), "doc_id"))
    },
    // whitespace words as the token stream (~38/doc): the two-level
    // prefix sum, straddle-split explode, and bounded per-pack assembly
    // are what the growth curve must prove out
    stage("packed_shards") { r =>
      val toks = r.corpus.select(col("doc_id"), split(col("text"), " ").as("w"))
      graft.dedup.Sampling.packedShards(toks, "doc_id", col("w"), budget = 2048L).count()
    },
    // 8 queries of 4 content words each against the full inverted index
    // — the index build (one corpus scan + term shuffle) dominates,
    // which is what the growth curve must show linear
    stage("bm25_topk") { r =>
      val queries = r.corpus.filter(col("doc_id") % (r.docs / 8) === 0)
        .select(col("doc_id").as("query_id"), slice(split(col("text"), " "), 2, 4).as("terms"))
      graft.text.TextSearch.bm25TopK(r.corpus, queries, k = 10).count()
    },
    // maxDfRatio 0.5 is the at-scale configuration: corpus stopwords (df
    // ≈ N) are the hot join/window keys behind the measured 16×
    // straggler and can never win a top-k slot anyway
    stage("tfidf_topterms") { r =>
      graft.text.TextSearch.tfidfTopTerms(r.corpus, k = 3, maxDfRatio = Some(0.5)).count()
    },
    // pairs straight from the planted 50-block dup structure (the
    // minhash stage already times candidate generation itself)
    stage("contrastive_triples") { r =>
      val pairs = r.spark.range(r.docs).filter(col("id") % 50 === 1)
        .select((col("id") - 1).as("id1"), col("id").as("id2"))
      graft.dedup.Sampling.contrastiveTriples(r.corpus.select("doc_id"), "doc_id", pairs).count()
    },
    probe("stream_admission")(streamAdmission),
    probe("image_admission")(imageAdmission),
    probe("crawl_cdc")(crawlCdc),
    probe("etl_pipeline")(etlPipeline))

  /** The [[stages]] `only` names, in table order; the default stages when
    * None. A name the table lacks throws ([[RegistryRunner.nameList]]).
    */
  def select(only: Option[String]): Seq[Stage] = only match {
    case None => stages.filter(_.default)
    case Some(s) =>
      val names = RegistryRunner.nameList(s, stages.map(_.name).toSet, "GRAFT_SOAK_STAGES names no soak stage")
      stages.filter(st => names(st.name))
  }

  private def imagePngs(r: Run): Dataset[MediaRow] =
    pngs(r.spark.range(0, r.docs, 1, r.parts)
      .selectExpr(Seq("id as doc_id") ++ blockSeed :+ "false as corrupt": _*))

  /** CorpusStream's growing near-dup index over 25 micro-batches: the
    * docs/25 standing signatures, then batch b covers ids [S·(b+1),
    * S·(b+2)). Ids ≡ 1,2 (mod 50) copy their block leader intra-batch;
    * ids ≡ 7 (mod 50) in batch b ≥ 1 copy plain id − S − 1 (≡ 6, admitted
    * one batch earlier) — flaggable only because the index grows with
    * admissions. Exact: flagged = S/50 on every batch after the first.
    */
  private def streamAdmission(r: Run): Long = {
    val spark = r.spark
    val (initial, Seq(s), batches) = streamSizes(r.docs)("stream_admission")
    withTempDir("graft-soak-stream") { dir =>
      val stream = land(spark, dir, batches) { b =>
        spark.range(initial + b * s, initial + (b + 1) * s, 1, r.parts).selectExpr(
          "id as doc_id",
          s"""case when id % 50 in (1, 2) then (id div 50) * 50
             |     when id % 50 = 7 and id >= ${initial + s} then id - $s - 1
             |     else id end as seed""".stripMargin,
          "false as near")
          .selectExpr("doc_id", s"$textFromSeedSql as text")
      }
      val initialSigs = Dedup.minhashSignatures(documents(spark, initial, r.parts))
      val log = r.batchLog()
      LiteratureStream.backfill(CorpusStream.admissionWriter(stream, initialSigs, minSim = 0.8, out => {
        // block leaders (id ≡ 0, 49 mod 50) are always admitted, so
        // admitted's min/max are the batch's id window
        val row = out.admitted.agg(count(lit(1)), min("doc_id"), max("doc_id")).head()
        val from = initial + out.batchId * s
        if (row.getLong(1) != from || row.getLong(2) != from + s - 1)
          r.violate(s"batch ${out.batchId} out of order: ids " +
            s"[${row.getLong(1)}, ${row.getLong(2)}], want [$from, ${from + s - 1}]")
        val flagged = out.flagged.count()
        log.observe(out.batchId, "admitted" -> row.getLong(0), "flagged" -> flagged)
        if (out.batchId > 0 && flagged != s / 50)
          r.violate(s"batch ${out.batchId} flagged: got $flagged want ${s / 50}")
      })).awaitTermination()
      log.total("admitted")
    }
  }

  /** MediaStream's growing dHash index over 10 micro-batches of real
    * PNGs: docs/50 standing images, then batches of S = docs/125. Ids ≡
    * 7 (mod 50) in batch b ≥ 1 carry the image of id − S − 1 (plain,
    * admitted one batch earlier); ids ≡ 13 are truncated payloads, the
    * quarantine path. Exact: rejected = S/50 every batch; flagged ≥ S/50
    * after the first (chance hamming-≤3 collisions add a few).
    */
  private def imageAdmission(r: Run): Long = {
    val spark = r.spark
    val (initial, Seq(s), batches) = streamSizes(r.docs)("image_admission")
    def images(from: Long, until: Long, copyBack: Long) =
      pngs(spark.range(from, until, 1, r.parts).selectExpr(
        "id as doc_id",
        s"case when id % 50 = 7 and $copyBack > 0 then id - $copyBack else id end as seed",
        "false as near",
        "id % 50 = 13 as corrupt"))
    withTempDir("graft-soak-image") { dir =>
      val stream = land(spark, dir, batches) { b =>
        images(initial + b * s, initial + (b + 1) * s, copyBack = if (b > 0) s + 1 else 0).toDF()
      }
      val initialHashes = ImageHash.dhashDocs(images(0, initial, 0).filter(col("doc_id") % 50 =!= 13), spark)
      val log = r.batchLog()
      LiteratureStream.backfill(MediaStream.imageAdmissionWriter(stream, initialHashes, maxHamming = 3, out => {
        val row = out.admitted.agg(count(lit(1)), min("doc_id")).head()
        if (row.getLong(1) != initial + out.batchId * s)
          r.violate(s"batch ${out.batchId} out of order: first id ${row.getLong(1)}")
        val (flagged, rejected) = (out.flagged.count(), out.rejected.count())
        log.observe(out.batchId, "admitted" -> row.getLong(0), "flagged" -> flagged, "rejected" -> rejected)
        if (rejected != s / 50)
          r.violate(s"batch ${out.batchId} rejected: got $rejected want ${s / 50}")
        if (out.batchId > 0 && flagged < s / 50)
          r.violate(s"batch ${out.batchId} flagged: got $flagged want >= ${s / 50}")
      })).awaitTermination()
      log.total("admitted")
    }
  }

  private val CrawlStatuses = Seq("new", "changed", "unchanged", "stale")

  /** CrawlStream's latest-wins URL state (RocksDB) over 10 micro-batches
    * of a growing frontier. Batch 0: `initial` first-sight URLs; batch b
    * ≥ 1: `fresh` new URLs (ts 10 + 1000·b) + `revisits` of batch-0 URLs
    * at ts 11 + 1000·b — even slots with per-batch content (changed), odd
    * ones with the original (unchanged) — + `stale` late fetches at ts 1.
    * Exact: every batch's status counts; state rows after batch b =
    * initial + b·fresh (one per distinct URL, never per fetch), read
    * from the query's progress; and the surviving non-stale frontier
    * equals the batch latest-wins replay over every fetch delivered.
    */
  private def crawlCdc(r: Run): Long = {
    val spark = r.spark
    import spark.implicits._
    val (initial, Seq(fresh, revisits, stale), batches) = streamSizes(r.docs)("crawl_cdc")
    def fetches(b: Int): DataFrame = {
      val (from, until) = if (b == 0) (0L, initial) else (initial + (b - 1) * fresh, initial + b * fresh)
      val first = spark.range(from, until, 1, r.parts).selectExpr("concat('u', id) as canonical_url",
        s"${10 + 1000L * b}L as fetch_ts", "concat('c', id) as content_hash")
      if (b == 0) first
      else first.unionByName(spark.range(0L, revisits, 1, r.parts).selectExpr(
          "concat('u', id) as canonical_url", s"${11 + 1000L * b}L as fetch_ts",
          s"if(id % 2 = 0, concat('c', id, 'b', $b), concat('c', id)) as content_hash"))
        .unionByName(spark.range(0L, stale, 1, r.parts).selectExpr(
          "concat('u', id) as canonical_url", "1L as fetch_ts", "'late' as content_hash"))
    }
    withTempDir("graft-soak-crawl") { dir =>
      val stream = land(spark, dir, batches)(fetches).as[CrawlFetch]
      val log = r.batchLog()
      val q = withConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
        val q = CrawlStream.latestWins(stream).writeStream
          .option("checkpointLocation", s"$dir/chk")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (df: Dataset[CrawlUpdate], batchId: Long) =>
            df.withColumn("batch_id", lit(batchId)).write.mode("append").parquet(s"$dir/updates")
            log.observe(batchId)
          }
          .start()
        q.awaitTermination()
        q
      }
      val state = q.recentProgress.flatMap(p => p.stateOperators.headOption.map(p.batchId -> _)).toMap
      val updates = spark.read.parquet(s"$dir/updates")
      val counts = updates.groupBy("batch_id", "status").count().as[(Long, String, Long)].collect()
        .map { case (b, st, n) => (b, st) -> n }.toMap
      (0L until batches).foreach { b =>
        val got = CrawlStatuses.map(st => st -> counts.getOrElse((b, st), 0L))
        val want = if (b == 0) Seq(initial, 0L, 0L, 0L) else Seq(fresh, revisits / 2, revisits / 2, stale)
        got.zip(want).foreach { case ((st, n), w) =>
          if (n != w) r.violate(s"batch $b $st: got $n want $w")
        }
        val (rows, bytes) = state.get(b).fold((-1L, -1L))(o => (o.numRowsTotal, o.memoryUsedBytes))
        log.add(b, got :+ ("state_rows" -> rows) :+ ("state_bytes" -> bytes): _*)
        if (rows != initial + b * fresh)
          r.violate(s"batch $b state rows: got $rows want ${initial + b * fresh}")
      }
      // the stream's surviving non-stale frontier per URL against the
      // batch latest-wins over every fetch delivered: newest ts, smallest
      // hash on a tie
      val frontier = updates.filter(col("status") =!= "stale").groupBy("canonical_url")
        .agg(max(struct(col("fetch_ts"), col("content_hash"))).as("s"))
        .select(col("canonical_url"), col("s.fetch_ts"), col("s.content_hash"))
      val delivered = spark.read.parquet(s"$dir/landing/*.parquet")
      val replay = delivered.groupBy("canonical_url").agg(max(col("fetch_ts")).as("max_ts"))
        .join(delivered, Seq("canonical_url"))
        .filter(col("fetch_ts") === col("max_ts"))
        .groupBy("canonical_url")
        .agg(max(col("fetch_ts")).as("fetch_ts"), min(col("content_hash")).as("content_hash"))
      val diff = frontier.exceptAll(replay).count() + replay.exceptAll(frontier).count()
      if (diff != 0) r.violate(s"frontier disagreement rows: $diff")
      counts.values.sum
    }
  }

  /** Entity universe: E targets, E diseases, E/10 drugs with names built
    * from a shared word pool so grounding keys collide realistically
    * (synonym hits, ambiguous labels, misses).
    */
  private def entities(spark: SparkSession, e: Long): (DataFrame, DataFrame, DataFrame) = {
    val targets = spark.range(e).selectExpr(
      "concat('ENSG', lpad(cast(id as string), 9, '0')) as id",
      "concat('gene alpha ', id) as approvedName",
      "concat('GN', id) as approvedSymbol",
      "array(named_struct('label', concat('GS', id))) as symbolSynonyms",
      "array(named_struct('label', concat('gene synonym ', id))) as nameSynonyms",
      "cast(array() as array<struct<label:string>>) as obsoleteSymbols",
      "cast(array() as array<struct<label:string>>) as obsoleteNames",
      "array(named_struct('id', concat('P', lpad(cast(id as string), 5, '0')))) as proteinIds")
    val diseases = spark.range(e).selectExpr(
      "concat('EFO_', lpad(cast(id as string), 7, '0')) as id",
      "concat('disease beta ', id) as name",
      """named_struct(
        | 'hasExactSynonym', array(concat('disorder beta ', id)),
        | 'hasNarrowSynonym', cast(null as array<string>),
        | 'hasBroadSynonym', cast(null as array<string>),
        | 'hasRelatedSynonym', array(concat('syndrome beta ', id))) as synonyms""".stripMargin)
    val drugs = spark.range(e / 10 + 1).selectExpr(
      "concat('CHEMBL', id) as id",
      "concat('drug gamma ', id) as name",
      "array(concat('brand gamma ', id)) as tradeNames",
      "array(concat('compound gamma ', id)) as synonyms")
    (targets, diseases, drugs)
  }

  /** D EPMC documents: 90% with full ids, ~3 sentences each over ranked +
    * unranked sections, 2 grounded-able matches and one GP-DS
    * co-occurrence per sentence, plus a miss-rate of labels outside the
    * entity universe.
    */
  private def epmc(spark: SparkSession, d: Long, e: Long, parts: Int): DataFrame = {
    def sentence(sec: String, k: Int): String = {
      val g = s"(id * 13 + $k) % $e"     // target index
      val ds = s"(id * 7 + $k) % $e"     // disease index
      s"""named_struct(
         | 'section', '$sec',
         | 'text', concat('GN', $g, ' associates with disease beta ', $ds, ' in cohort ', id),
         | 'matches', array(
         |    named_struct('label', concat('GN', $g), 'type', 'GP',
         |      'startInSentence', 0L, 'endInSentence', 5L, 'sectionStart', 0L, 'sectionEnd', 5L),
         |    named_struct('label', concat('disease beta ', $ds), 'type', 'DS',
         |      'startInSentence', 10L, 'endInSentence', 20L, 'sectionStart', 10L, 'sectionEnd', 20L),
         |    named_struct('label', concat('unknown thing ', id), 'type', 'DS',
         |      'startInSentence', 30L, 'endInSentence', 40L, 'sectionStart', 30L, 'sectionEnd', 40L)),
         | '`co-occurrence`', array(
         |    named_struct('label1', concat('GN', $g), 'label2', concat('disease beta ', $ds),
         |      'type', 'GP-DS', 'start1', 0L, 'end1', 5L, 'start2', 10L, 'end2', 20L,
         |      'association', 'y', 'relation', 'assoc',
         |      'sentEvidenceScore', cast((id % 10) as double)))
         |)""".stripMargin.replace("'`co-occurrence`'", "'co-occurrence'")
    }
    spark.range(0, d, 1, parts).selectExpr(
      "cast(id + 1 as string) as pmid",
      "if(id % 10 = 0, null, concat('PMC', id + 1)) as pmcid",
      "date_format(date_add(date'2015-01-01', cast(id % 3000 as int)), 'yyyy-MM-dd') as pubDate",
      "array('human') as organisms",
      s"array(${sentence("Title", 0)}, ${sentence("Abstract", 1)}, ${sentence("Results", 2)}) as sentences")
  }

  /** `EtlMain all` over a `docs`-document EPMC corpus and
    * round(√(160·docs)) entities (2,000 at 25k docs, 20,000 at 2.5M,
    * 40,000 at 10M), written to disk first: EPMC JSON, the three entity
    * parquets and a header-only epmcids CSV (no PMID/PMCID pairs, so the
    * id repair joins run against an empty LUT). Batch 0's `sec` is the
    * pipeline's wall time without the input writes; the stage's rows are
    * the evidence rows written.
    */
  private def etlPipeline(r: Run): Long = {
    val spark = r.spark
    val e = math.round(math.sqrt(160.0 * r.docs))
    withTempDir("graft-soak-etl") { dir =>
      val in = s"$dir/in"
      val (targets, diseases, drugs) = entities(spark, e)
      epmc(spark, r.docs, e, r.parts).write.json(s"$in/epmc")
      targets.write.parquet(s"$in/targets")
      diseases.write.parquet(s"$in/diseases")
      drugs.write.parquet(s"$in/drugs")
      Files.writeString(dir.resolve("in/epmcids.csv"), "PMID,PMCID\n")
      // Embedding.W2VConfig's sizing rule, ≈ max(cores, bags / 500k)
      // capped at 128 model replicas; bags ≈ 3 per doc in this corpus
      // (per-rank + overall)
      val w2vParts = math.max(spark.sparkContext.defaultParallelism.toLong,
        math.min(128L, 3L * r.docs / 500000L))
      val cfg = EtlConfig.load(None, Map(
        "epmc" -> s"$in/epmc", "epmcids" -> s"$in/epmcids.csv", "targets" -> s"$in/targets",
        "diseases" -> s"$in/diseases", "drugs" -> s"$in/drugs", "out" -> s"$dir/out",
        "threshold" -> "-2.0", "w2v.vectorSize" -> "32", "w2v.numPartitions" -> w2vParts.toString))
      val log = r.batchLog()
      EtlMain.run("all", cfg, spark)
      log.observe(0) // before the count, so batch 0 times EtlMain alone
      val n = spark.read.parquet(s"$dir/out/evidence").count()
      log.add(0, "evidence" -> n)
      n
    }
  }

  /** What one stage measured. */
  final case class StageResult(name: String, sec: Double, shuffleBytes: Long, spillBytes: Long,
      rows: Long, skew: String, batches: Seq[Batch]) {
    /** The stage's share of the headline: its batches' time when it
      * keeps a [[BatchLog]], which leaves out generating and landing its
      * inputs, else its wall time.
      */
    def timed: Double = if (batches.isEmpty) sec else batches.map(_.sec).sum

    def json: String =
      s""""$name":{"sec":$sec,"shuffle_bytes":$shuffleBytes,"spill_bytes":$spillBytes,""" +
        s""""rows":$rows,"task_skew":$skew""" +
        (if (batches.isEmpty) "" else batches.map(_.json).mkString(""","batches":[""", ",", "]")) + "}"
  }

  /** A whole run: every stage's result, the run's shuffle and spill
    * totals, and every violation. The headline `value` and `docs_per_sec`
    * sum each stage's [[StageResult.timed]].
    */
  final case class Report(docs: Long, dim: Int, parts: Int, stages: Seq[StageResult],
      shuffleBytes: Long, peakStageShuffle: Long, spillBytes: Long, violations: Seq[String]) {
    def json: String = {
      val total = stages.map(_.timed).sum
      s"""{"metric":"soak_total","value":$total,"unit":"sec","docs":$docs,"dim":$dim,""" +
        s""""parts":$parts,"docs_per_sec":${(docs / total).toLong},""" +
        s""""shuffle_total_bytes":$shuffleBytes,"peak_stage_shuffle_bytes":$peakStageShuffle,""" +
        s""""spill_total_bytes":$spillBytes,""" +
        s""""violations":${violations.map(v => "\"" + v + "\"").mkString("[", ",", "]")},""" +
        s""""stages":${stages.map(_.json).mkString("{", ",", "}")}}"""
    }
  }

  /** The soak's one listener: cumulative shuffle write and spill, the
    * largest single Spark stage's shuffle, every task's run time (drained
    * per soak stage for the skew summary), and one stderr line per Spark
    * stage — callsite, task count, summed/max task time, shuffle write,
    * spill — which names the operator owning a hot task.
    */
  private final class Metrics extends SparkListener {
    val shuffle = new AtomicLong
    val spill = new AtomicLong
    val peakShuffle = new AtomicLong
    // boxed Long on purpose: with scala.Long the poll()-vs-null check
    // unboxes null to 0 and the drain loop never terminates
    private val taskMillis = new ConcurrentLinkedQueue[java.lang.Long]
    private val stageTasks = new ConcurrentHashMap[Int, (Long, Long, Long)]

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        val w = m.shuffleWriteMetrics.bytesWritten
        shuffle.addAndGet(w)
        spill.addAndGet(m.diskBytesSpilled)
        peakShuffle.updateAndGet(p => math.max(p, w))
        val (n, sum, max) = Option(stageTasks.remove(sc.stageInfo.stageId)).getOrElse((0L, 0L, 0L))
        System.err.println(
          f"[stage] id=${sc.stageInfo.stageId}%-4d tasks=$n%-5d " +
            f"sum=${sum / 1000}%-6d s max=${max / 1000.0}%-8.1f s " +
            f"write=${w / 1e9}%-7.2f GB spill=${m.diskBytesSpilled / 1e9}%-7.2f GB " +
            f"${sc.stageInfo.name}")
      }
    }

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      if (te.taskMetrics != null) {
        val t = te.taskMetrics.executorRunTime
        taskMillis.add(t)
        stageTasks.merge(te.stageId, (1L, t, t), (a, b) => (a._1 + 1, a._2 + t, math.max(a._3, t)))
      }

    /** p50/p99/max task time since the last drain, as JSON. */
    def drainSkew(): String = {
      val b = Vector.newBuilder[Long]
      var v = taskMillis.poll(); while (v ne null) { b += v.longValue; v = taskMillis.poll() }
      val ts = b.result().sorted
      if (ts.isEmpty) """{"tasks":0}""" else {
        def q(p: Double) = ts(math.min(ts.size - 1, (p * ts.size).toInt))
        s"""{"tasks":${ts.size},"p50_ms":${q(0.5)},"p99_ms":${q(0.99)},""" +
          s""""max_ms":${ts.last},"sum_task_sec":${ts.sum / 1000}}"""
      }
    }
  }

  /** Run `selected` stages over a `docs`-document corpus in `spark`, each
    * measured by one listener, and report. A stream stage whose
    * persisted RDD count grows across its batches, or that still holds
    * a persisted RDD it did not start with once it ends, is a violation
    * too.
    */
  def run(spark: SparkSession, docs: Long, dim: Int, parts: Int, selected: Seq[Stage]): Report = {
    val r = new Run(spark, docs, dim, parts)
    val metrics = new Metrics
    spark.sparkContext.addSparkListener(metrics)
    try {
      val results = selected.map { st =>
        r.stage = st.name
        r.log = None
        metrics.drainSkew() // drop task events from before this stage
        val (s0, p0) = (metrics.shuffle.get, metrics.spill.get)
        val persisted0 = spark.sparkContext.getPersistentRDDs.keySet
        val t0 = System.nanoTime()
        val rows = st.body(r)
        val sec = (System.nanoTime() - t0) / 1e9
        if (r.log.nonEmpty) {
          // a stream stage frees what it held once its queries end, by an
          // asynchronous unpersist: wait up to 30 s for it
          def left = spark.sparkContext.getPersistentRDDs.keySet -- persisted0
          val deadline = System.nanoTime() + 30000000000L
          while (left.nonEmpty && System.nanoTime() < deadline) Thread.sleep(200)
          if (left.nonEmpty) r.violate(s"persisted_rdds left: ${left.toSeq.sorted.mkString(",")}")
        }
        // wait for straggler task-end events already in flight
        Thread.sleep(200)
        val skew = metrics.drainSkew()
        val batches = r.log.fold(Seq.empty[Batch])(_.batches)
        val persisted = batches.map(_.persistedRdds)
        if (persisted.nonEmpty && persisted.max > persisted.head)
          r.violate(s"persisted_rdds grew: ${persisted.mkString(",")}")
        val res = StageResult(st.name, sec, metrics.shuffle.get - s0, metrics.spill.get - p0, rows, skew, batches)
        System.err.println(f"[soak] ${st.name}%-22s $sec%8.1f s  " +
          f"shuffle ${res.shuffleBytes / 1e9}%8.3f GB  rows $rows%d  skew $skew")
        res
      }
      Report(docs, dim, parts, results, metrics.shuffle.get, metrics.peakShuffle.get,
        metrics.spill.get, r.violations.toArray(Array.empty[String]).toSeq)
    } finally spark.sparkContext.removeSparkListener(metrics)
  }

  def main(args: Array[String]): Unit = {
    val docs = sys.env.getOrElse("GRAFT_SOAK_DOCS", "2500000").toLong
    val dim = sys.env.getOrElse("GRAFT_SOAK_DIM", "64").toInt
    // both throw on a bad value before any Spark work starts
    val selected = select(sys.env.get("GRAFT_SOAK_STAGES"))
    streamSizes(docs)
    val cpus = RegistryRunner.cpus
    val parts = partitions(docs, cpus)
    // GRAFT_SOAK_MASTER: point the soak at a real cluster manager
    // (e.g. spark://host:7077 standalone) instead of local[cpus] — the
    // multi-executor validation path. Executor sizing rides the usual
    // spark.executor.* system properties / spark-defaults; the
    // application jar must be on spark.jars so executors can load it.
    val master = sys.env.getOrElse("GRAFT_SOAK_MASTER", s"local[$cpus]")
    val spark = Sessions.builder("graft-scale-soak", Some(master), parts)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val report = try run(spark, docs, dim, parts, selected) finally spark.stop()
    println(report.json)
    if (report.violations.nonEmpty) {
      System.err.println(s"soak violations: ${report.violations.mkString("; ")}")
      sys.exit(1)
    }
  }
}
