package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Sessions

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
  * Env: GRAFT_SOAK_DOCS (default 2,500,000), GRAFT_SOAK_DIM (default 64),
  * GRAFT_SOAK_VECS (default = docs), SPARK_GRAFT_CPUS. Prints one JSON
  * line: per-stage {sec, shuffle_bytes, spill_bytes} plus totals.
  */
object ScaleSoak {

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
    spark.range(0, n, 1, parts).selectExpr(
      "id as doc_id",
      // block leader's content for dup/near-dup rows, own id otherwise
      "case when id % 50 in (1, 2, 3) then (id div 50) * 50 else id end as seed",
      "cast(id % 50 = 3 as boolean) as near")
      .selectExpr("doc_id", s"$textFromSeedSql as text")

  /** The seed → text expression shared by [[documents]] and StreamSoak's
    * cross-batch generator: expects `seed` (long), `near` (boolean) and
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
    spark.range(0, n, 1, parts).selectExpr(
      "id as vec_id",
      "case when id % 50 in (1, 2, 3) then (id div 50) * 50 else id end as seed",
      "cast(id % 50 = 3 as boolean) as near")
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

  def main(args: Array[String]): Unit = {
    val docs = sys.env.getOrElse("GRAFT_SOAK_DOCS", "2500000").toLong
    val dim = sys.env.getOrElse("GRAFT_SOAK_DIM", "64").toInt
    val vecs = sys.env.getOrElse("GRAFT_SOAK_VECS", docs.toString).toLong
    val cpus = RegistryRunner.cpus
    // GRAFT_SOAK_MASTER: point the soak at a real cluster manager
    // (e.g. spark://host:7077 standalone) instead of local[cpus] — the
    // multi-executor validation path. Executor sizing rides the usual
    // spark.executor.* system properties / spark-defaults; the
    // application jar must be on spark.jars so executors can load it.
    val master = sys.env.getOrElse("GRAFT_SOAK_MASTER", s"local[$cpus]")
    val spark = Sessions.builder("graft-scale-soak", Some(master), cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // GRAFT_SOAK_SHUFFLE_PARTITIONS: override the bench-sized default
    // (= cores). The clean_corpus 10M probe measured why this matters:
    // window/sort partition COUNT is fixed at this setting (AQE splits
    // skewed joins, never window sorts), so at 10M docs a 32-partition
    // shingle-window sort runs ~10M-row single-threaded sorts that
    // outgrow memory and spill — wall goes superlinear while shuffle
    // bytes stay linear. A real cluster sizes this with executors;
    // the soak must be able to do the same.
    sys.env.get("GRAFT_SOAK_SHUFFLE_PARTITIONS")
      .foreach(p => spark.conf.set("spark.sql.shuffle.partitions", p))

    // cumulative shuffle/spill across all Spark stages; snapshot deltas
    // bracket each logical soak stage
    val shuffleBytes = new AtomicLong
    val spillBytes = new AtomicLong
    val peakStageShuffle = new AtomicLong
    // per-task run times, drained per soak stage: p99/median is the
    // straggler diagnostic for wall-superlinear-at-linear-shuffle stages
    // boxed Long on purpose: with scala.Long the poll()-vs-null check
    // unboxes null to 0 and the drain loop never terminates
    val taskMillis = new ConcurrentLinkedQueue[java.lang.Long]
    // GRAFT_SOAK_STAGE_DETAIL=1: per-SPARK-stage attribution — callsite,
    // task count, summed/max task runtime, shuffle write, spill — the
    // probe that names WHICH operator owns a hot task when the
    // per-soak-stage aggregate only proves one exists.
    val stageDetail = sys.env.get("GRAFT_SOAK_STAGE_DETAIL").contains("1")
    val stageTask =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          val w = m.shuffleWriteMetrics.bytesWritten
          shuffleBytes.addAndGet(w)
          spillBytes.addAndGet(m.diskBytesSpilled)
          peakStageShuffle.updateAndGet(p => math.max(p, w))
          if (stageDetail) {
            val (n, sum, max) =
              Option(stageTask.remove(sc.stageInfo.stageId)).getOrElse((0L, 0L, 0L))
            System.err.println(
              f"[stage] id=${sc.stageInfo.stageId}%-4d tasks=$n%-5d " +
                f"sum=${sum / 1000}%-6d s max=${max / 1000.0}%-8.1f s " +
                f"write=${w / 1e9}%-7.2f GB spill=${m.diskBytesSpilled / 1e9}%-7.2f GB " +
                f"${sc.stageInfo.name}")
          }
        }
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) {
          taskMillis.add(te.taskMetrics.executorRunTime)
          if (stageDetail) {
            val t = te.taskMetrics.executorRunTime
            stageTask.merge(te.stageId, (1L, t, t),
              (a, b) => (a._1 + 1, a._2 + t, math.max(a._3, t)))
          }
        }
    })

    def sink(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // GRAFT_SOAK_INPUT_PARTS: generator input-split count (default =
    // cores). A real corpus scan splits at ~128 MB regardless of total
    // size, so per-task operator state is bounded; emulate that here by
    // scaling splits with N instead of letting per-task partial-agg
    // hash state grow into sort-fallback (the measured 10M stage-0 CPU
    // superlinearity — SCALE.md "clean_corpus decomposition").
    val inputParts = sys.env.get("GRAFT_SOAK_INPUT_PARTS").map(_.toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)
    val corpus = documents(spark, docs, inputParts)
    val emb = embeddings(spark, vecs, dim, inputParts)

    // GRAFT_SOAK_STAGES: comma-separated stage names — run a subset (new
    // stages get their growth curves without re-running settled ones)
    val onlyStages = sys.env.get("GRAFT_SOAK_STAGES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

    var results = Vector.empty[(String, Double, Long, Long, Long, String)]
    def timed(name: String)(f: => Long): Unit = if (onlyStages.forall(_(name))) {
      taskMillis.clear()
      val (s0, p0) = (shuffleBytes.get, spillBytes.get)
      val t0 = System.nanoTime()
      val rows = f
      val sec = (System.nanoTime() - t0) / 1e9
      // wait for straggler task-end events already in flight
      Thread.sleep(200)
      val ts = {
        val b = Vector.newBuilder[Long]
        var v = taskMillis.poll(); while (v ne null) { b += v.longValue; v = taskMillis.poll() }
        b.result().sorted
      }
      val skew = if (ts.isEmpty) """{"tasks":0}""" else {
        def q(p: Double) = ts(math.min(ts.size - 1, (p * ts.size).toInt))
        s"""{"tasks":${ts.size},"p50_ms":${q(0.5)},"p99_ms":${q(0.99)},""" +
          s""""max_ms":${ts.last},"sum_task_sec":${ts.sum / 1000}}"""
      }
      results :+= ((name, sec, shuffleBytes.get - s0, spillBytes.get - p0, rows, skew))
      System.err.println(f"[soak] $name%-22s $sec%8.1f s  " +
        f"shuffle ${(shuffleBytes.get - s0) / 1e9}%8.3f GB  rows $rows%d  skew $skew")
    }
    def sinkCount(df: DataFrame): Long = { sink(df); -1L }

    timed("exact_dedup") { graft.dedup.Dedup.exact(corpus).count() }
    timed("minhash_pairs_clusters") {
      val sigs = graft.dedup.Dedup.minhashSignatures(corpus, numPerms = 8)
      val pairs = graft.dedup.Dedup.minhashCandidates(sigs, numPerms = 8, bandSize = 2)
      graft.dedup.Dedup.clusters(pairs).count()
    }
    timed("simhash_pairs") {
      graft.dedup.Dedup.simhashPairs(graft.dedup.Dedup.simhash(corpus)).count()
    }
    timed("simhash_pairs_comb") {
      // same verified pair set, block-pair bucket keys — the soak's own
      // finding (single-band candidates grow ~N^2/2^16) motivated this;
      // the stage pair quantifies the candidate-volume win at each N
      graft.dedup.Dedup.simhashPairsCombinatorial(
        graft.dedup.Dedup.simhash(corpus)).count()
    }
    timed("clean_corpus") {
      graft.pipelines.CorpusClean(corpus, minQuality = 0.3, minJaccard = 0.5,
        maxShingleDf = 50).count()
    }
    // clean_corpus decomposition probes (explicit GRAFT_SOAK_STAGES only,
    // never part of the default soak): the 10M isolated runs measured the
    // whole pipeline superlinear with a ~500 s straggler task that MORE
    // shuffle partitions made worse (32→256 parts: 1275→1504 s wall,
    // spill 3.6 GB→75 MB, p99 task 431→540 s) — so it is a hot KEY, not
    // partition sizing. These sub-stages re-run each step of the chain
    // in isolation so the per-stage skew histogram names the culprit.
    def probed(name: String)(f: => Long): Unit =
      if (onlyStages.exists(_(name))) timed(name)(f)
    probed("clean_scored") {
      import graft.text.TextAnalysis
      corpus.select(col("doc_id"), col("text"),
          TextAnalysis.langId(col("text")).as("pl"),
          TextAnalysis.wordCount(col("text")).as("nw"),
          TextAnalysis.punctCount(col("text")).as("np"),
          length(col("text")).as("nc"))
        .filter(col("pl") === "en" && col("nw") > 0)
        .filter(TextAnalysis.qualityScore(col("nw"), col("np"), col("nc")) >= 0.3)
        .select(col("doc_id")).count()
    }
    probed("clean_exact_canon") {
      corpus.groupBy(md5(col("text")).as("h")).agg(min(col("doc_id")).as("doc_id"))
        .count()
    }
    probed("clean_shingle_df_hotset_bcast") {
      // the SHIPPED shape (Dedup.jaccardPairs since the round-7 A/B):
      // combinable groupBy df → tiny over-cap set → EXPLICIT broadcast
      // anti-join — no sort, no second index shuffle, no key-occupancy
      // task
      val dist = graft.dedup.Dedup.shingles(corpus).distinct()
      val hot = dist.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        .filter(col("df") > 50).select(col("shingle"))
      dist.join(broadcast(hot), Seq("shingle"), "left_anti").count()
    }
    probed("clean_jaccard") {
      graft.dedup.Dedup.jaccardPairs(corpus, minJaccard = 0.5, maxShingleDf = 50)
        .count()
    }
    probed("clean_clusters") {
      graft.dedup.Dedup.clusters(
        graft.dedup.Dedup.jaccardPairs(corpus, minJaccard = 0.5, maxShingleDf = 50))
        .count()
    }
    // explicit-only growth probes for the round-7 pair operators: same
    // capped-index scale shape as clean_jaccard, different measures
    probed("containment_pairs") {
      graft.dedup.Dedup.containmentPairs(corpus, minContainment = 0.9,
        maxShingleDf = 50).count()
    }
    probed("cosine_pairs") {
      graft.text.TextSearch.cosinePairs(corpus, minCos = 0.5, maxDf = 50).count()
    }
    // explicit-only growth probes for the later round-7 operators.
    probed("sorted_neighborhood") {
      // every soak doc starts "the w…", so the default rangePrefix=2
      // collapses to ONE range bucket = one window partition holding the
      // whole corpus — exactly the occupancy knob the scaladoc names.
      // rangePrefix=8 reaches past the shared prefix into the hashed
      // first word (~10k distinct ranges); candidate volume stays
      // (w−1)·N by construction at every N.
      graft.dedup.Dedup.sortedNeighborhoodPairs(corpus, windowSize = 4,
        maxDist = 12, rangePrefix = 8).count()
    }
    probed("exact_dup_spans") {
      // 37-token docs → 18 k-windows each; the planted 50-blocks (4
      // identical docs) sit under the df cap, so every block contributes
      // its full diagonal-run merge — linear in N blocks
      graft.dedup.Dedup.exactDupSpans(corpus, k = 20, maxWindowDf = 10).count()
    }
    probed("overlap_pairs") {
      // winnowed-fingerprint span-overlap pairs over the same planted
      // blocks; with the shared doc-keyed exchange the winnowing lineage
      // must execute ONCE (the anti-join-pushdown fix — session 8), so
      // wall should track the single fingerprint pass plus the capped
      // self-join, not 2× the map stage
      graft.text.TextQuality.overlapPairs(
        graft.text.TextQuality.winnowedFingerprints(corpus),
        minShared = 2, maxFpDf = 10).count()
    }
    probed("phrase_search") {
      // "of note" is the 96%-of-corpus tail phrase — the HOT case: the
      // broadcast phrase filter keeps ~2N postings, the anchor-vote agg
      // is combinable, and no key sees more than a doc's occurrences
      graft.text.TextSearch.phraseSearch(corpus, Seq("of", "note")).count()
    }
    probed("heavy_hitters") {
      // token stream ~38N rows; 'the'/'and'/'of'/'note' are the planted
      // heavy keys — the CMS prune must drop the 9973-word hashed tail
      // map-side before the exact count
      graft.functions.Sketches.heavyHitters(
        corpus.select(explode(split(col("text"), " ")).as("tok")),
        col("tok")).count()
    }
    probed("pagerank") {
      // deterministic degree-2 random graph over the doc ids: 2N edges,
      // hubs arise from pmod collisions; 3 fixed-point iterations
      val edges = spark.range(docs).selectExpr(
        "id as src", s"pmod(xxhash64(id, 7), $docs) as dst")
        .unionAll(spark.range(docs).selectExpr(
          "id as src", s"pmod(xxhash64(id, 11), $docs) as dst"))
      graft.graph.Graph.pageRank(edges, iterations = 3).count()
    }
    // explicit-only growth probes for the session-10 operators.
    probed("bpe_train") {
      // vocabulary here is ~10k hashed words plus one 'extraN' word per
      // near-dup row (~N/50 singleton words) — maxWords prunes the
      // singleton tail deterministically, so the collected model stays
      // bounded while the distributed word-count aggregation sees the
      // full Heaps tail; 50 merges over the 65k-word model is the
      // in-memory loop's cost, deliberately driver-side (model, not data)
      graft.text.Bpe.train(corpus, numMerges = 50).size.toLong
    }
    probed("bpe_encode") {
      // map-side subword encode + count over the whole corpus under a
      // small fixed merge table: the per-token cost of the greedy merge
      // loop with the word memo hot (the corpus has ~10k distinct words)
      val merges = graft.text.Bpe.trainInMemory(
        Seq(("the", 50L), ("and", 40L), ("note", 30L), ("of", 20L),
          ("w1234", 10L), ("w999", 10L), ("extra7", 5L)), numMerges = 24,
        minPairFreq = 1L)
      sinkCount(corpus.select(col("doc_id"),
        graft.text.Bpe.tokenCount(col("text"), merges).as("n")))
    }
    probed("label_propagation") {
      // the pagerank graph (2N edges, hash hubs), 3 sync rounds: per
      // round one adjacency join + two combinable aggs — shuffle should
      // track pagerank's within a small factor at every N
      val edges = spark.range(docs).selectExpr(
        "id as src", s"pmod(xxhash64(id, 7), $docs) as dst")
        .unionAll(spark.range(docs).selectExpr(
          "id as src", s"pmod(xxhash64(id, 11), $docs) as dst"))
      graft.graph.Graph.labelPropagation(edges, rounds = 3).count()
    }
    // round-9 operator growth probes (explicit-only).
    probed("ngram_novelty") {
      // ~36N hashed trigrams; the 50-block dup structure gives planted
      // df>=2 shingles so the df join is never trivially all-novel
      graft.text.TextQuality.ngramNovelty(corpus).count()
    }
    probed("url_latest_wins") {
      // N fetches over ~N/3 pages in the d22 variant structure (case
      // host + tracking params + query-less form); content repeats per
      // fetch pair so changed/unchanged both occur. Group occupancy is
      // the per-page revisit count (<= 3) at every N.
      val fetches = spark.range(0, docs, 1, inputParts).selectExpr(
        "id as fetch_ts",
        """concat(case when id % 3 = 0 then 'https://S' else 'https://s' end,
          |  pmod(id div 3, 9973), '.example.com/p/', id div 3,
          |  case when id % 3 = 1 then '?utm_source=x&a=1'
          |       when id % 3 = 2 then '?a=1' else '' end) as url""".stripMargin,
        "concat('c', id div 2) as content")
      graft.pipelines.CrawlSnapshots.latestWins(fetches).count()
    }
    probed("scene_cuts") {
      // shot segmentation over STORED frame hashes (the decode stage is
      // codec-bound per the image/audio probes — this isolates the
      // doc-keyed lag-window + rollup shape): N frame rows = N/10
      // videos x 10 frames, scene flip at frame 5 (hash base changes),
      // +frame perturbation within a scene (hamming ~2 vs ~32)
      val hashes = spark.range(0, docs, 1, inputParts).selectExpr(
        "id div 10 as doc_id",
        "cast(id % 10 as int) as frame_no",
        // XOR, not +: ANSI addition on a near-MAX hash would overflow;
        // the low-bit XOR keeps within-scene hamming <= 4 (vs ~32 across)
        "xxhash64(id div 10, case when id % 10 < 5 then 0 else 1 end) ^ (id % 10) as simhash")
      graft.multimodal.VideoHash.sceneCuts(hashes, threshold = 8).count()
    }
    // image near-dup end-to-end: deterministic 9×8 hash-pixel PNGs with
    // the standard 50-block planted structure (3 exact copies + 1
    // one-pixel near-dup per block → 6 hamming<=1 pairs/block), encoded
    // and REAL-decoded per row. Hashes are ~uniform 64-bit (hashed
    // pixels, unlike the oracle fixture's 251-class gradient), so the
    // pair stage sits in the text simhash banding regime — but the
    // measured 2.5M stage-detail A/B showed the END-TO-END stage is
    // CODEC-bound (decode ≈ 97% of task CPU, candidate join ~1% even
    // with candidates already quadratic), so the banding choice only
    // matters over STORED hashes, where the text curves transfer
    // directly (SCALE.md "Image near-dup banding A/B").
    def imagePngs() = {
      import spark.implicits._
      spark.range(0, docs, 1, inputParts).selectExpr(
          "id as doc_id",
          "case when id % 50 in (1, 2, 3) then (id div 50) * 50 else id end as seed",
          "cast(id % 50 = 3 as boolean) as near")
        .as[(Long, Long, Boolean)]
        .mapPartitions { it =>
          it.map { case (id, seed, near) =>
            val img = new java.awt.image.BufferedImage(
              9, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < 8) {
              var x = 0
              while (x < 9) {
                var v = java.lang.Long.remainderUnsigned(
                  scala.util.hashing.byteswap64(seed * 72 + y * 9 + x), 251).toInt
                if (near && x == 0 && y == 0) v = (v + 3) % 251
                img.setRGB(x, y, (v << 16) | (v << 8) | v)
                x += 1
              }
              y += 1
            }
            val out = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", out)
            graft.multimodal.MediaRow(id, "image/png", out.toByteArray)
          }
        }
    }
    probed("image_dhash_pairs") {
      graft.dedup.Dedup.simhashPairs(
        graft.multimodal.ImageHash.dhashDocs(imagePngs(), spark)).count()
    }
    probed("image_dhash_pairs_comb") {
      graft.dedup.Dedup.simhashPairsCombinatorial(
        graft.multimodal.ImageHash.dhashDocs(imagePngs(), spark)).count()
    }
    probed("audio_fp_pairs") {
      // tri-modal parity probe: 260-sample PCM WAVs with the standard
      // 50-block planted structure, real javax.sound decode → energy
      // fingerprint → the SAME banded pair join as text/image. Samples
      // are HASHED per (seed, i) — uniform 64-bit fingerprints, the
      // sparse banding regime (the oracle fixture's 251-class family
      // would make soak-scale bucket occupancy quadratic by design) —
      // and near rows perturb sample 0, the one-window near-dup.
      import spark.implicits._
      val rows = spark.range(0, docs, 1, inputParts).selectExpr(
          "id as doc_id",
          "case when id % 50 in (1, 2, 3) then (id div 50) * 50 else id end as seed",
          "cast(id % 50 = 3 as boolean) as near")
        .as[(Long, Long, Boolean)]
        .map { case (id, seed, near) =>
          val n = 260
          val bytes = new Array[Byte](44 + n * 2)
          val bb = java.nio.ByteBuffer.wrap(bytes)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          def cc(s: String) = bb.put(s.getBytes("US-ASCII"))
          cc("RIFF"); bb.putInt(36 + n * 2); cc("WAVE")
          cc("fmt "); bb.putInt(16)
          bb.putShort(1); bb.putShort(1)
          bb.putInt(1024); bb.putInt(2048); bb.putShort(2); bb.putShort(16)
          cc("data"); bb.putInt(n * 2)
          var i = 0
          while (i < n) {
            var v = java.lang.Long.remainderUnsigned(
              scala.util.hashing.byteswap64(seed * 260 + i), 251).toInt - 125
            if (near && i == 0) v += 60
            bb.putShort(v.toShort)
            i += 1
          }
          graft.multimodal.MediaRow(id, "audio/wav", bytes)
        }
      graft.dedup.Dedup.simhashPairs(
        graft.multimodal.AudioHash.fingerprintDocs(rows, spark)).count()
    }
    probed("token_budget_mixture") {
      // 20 domains (one corpus-hot: half the corpus lands in domain
      // d0), budget 1M tokens each — the funnel the two-level range
      // construction must absorb: a per-domain window would put ~N/2
      // rows in one task
      val domains = corpus.withColumn("dom",
        concat(lit("d"), when(col("doc_id") % 2 === 0, lit(0))
          .otherwise(pmod(col("doc_id"), lit(20)))))
      graft.dedup.Sampling.tokenBudgetMixture(domains, "doc_id", "dom",
        graft.text.TextAnalysis.wordCount(col("text")),
        budgetPerDomain = 1000000L).count()
    }
    probed("lr_quality_score") {
      // fit on a 4% hash sample (the published-pipeline posture: the
      // classifier needs exemplars, not the corpus), then score the
      // full corpus map-side — fit cost is LBFGS over sample×256 dense
      // vectors, score cost is the pure scan
      val sample = corpus.filter(pmod(xxhash64(col("doc_id"), lit(5)), lit(25)) === 0)
        .withColumn("label", (col("doc_id") % 50 === 3).cast("double"))
      val (w, b) = graft.text.QualityClassifier.fit(sample, spark, maxIter = 10)
      sinkCount(graft.text.QualityClassifier.score(corpus, w, b))
    }
    // range-built frames carry tiny size estimates, so any stage whose
    // join sides are actually corpus-sized must forbid broadcast or the
    // planner materializes multi-GB "small" sides on the driver (the
    // lsh payload stages hit this first; prefix_jaccard's 500k run died
    // on an attempted 10 GiB broadcast of the prefix stream)
    def noBroadcast(f: => Long): Long = {
      // capture each key's own prior state and restore EXACTLY it —
      // unset keys go back to unset (so Spark's built-in defaults keep
      // governing later stages), not to a literal fallback value
      val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold")
      val prev = keys.map(k => k -> spark.conf.getOption(k))
      keys.foreach(spark.conf.set(_, "-1"))
      try f finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    // explicit-only growth probes for the session-9 operators.
    probed("prefix_jaccard") {
      // EXACT threshold join vs clean_jaccard's capped one, same corpus:
      // the soak's corpus-hot shingles ("and of note", df = 0.96·N) are
      // the stop-phrase keys that forced the df cap — under prefix
      // filtering they enter a doc's prefix only when the doc has
      // almost nothing rarer, so the hot postings never reach the join
      // and no cap (hence no recall caveat) is needed. Candidate volume
      // should track the planted near-dup density, linearly in N.
      val sh = graft.dedup.Dedup.shingles(corpus)
        .select(col("doc_id"), col("shingle").as("tok")).distinct()
      noBroadcast(
        graft.dedup.SimilarityJoin.prefixJaccardPairsOver(sh, minJaccard = 0.5).count())
    }
    probed("editdist_pairs") {
      // 16-hex-char entity names, one planted 1-char typo per 20 ids:
      // deletion-neighborhood keys are 17·N with bucket sizes ~2 (random
      // hex shares almost no subsequences), so candidates ≈ planted
      // pairs and the join is output-bound — the blocking claim at N
      val names = spark.range(docs).selectExpr(
        "id", "hex(xxhash64(id, 3)) AS name")
      val typos = spark.range(docs).filter(col("id") % 20 === 0)
        .selectExpr("id + 1000000000 AS id",
          // substitute the first char with one outside the hex alphabet
          "concat('Z', substr(hex(xxhash64(id, 3)), 2)) AS name")
      graft.dedup.SimilarityJoin.editDistancePairs(
        names.unionByName(typos), "name", "id").count()
    }
    probed("warc_records") {
      // build + parse: 16 docs/file, gzip on the driver-prescribed
      // rotation; measures end-to-end container throughput (the build's
      // groupByKey is the fixture's cost, the parse is map-side)
      graft.sources.Warc.extractRecords(
        graft.sources.Warc.syntheticWarcFiles(corpus, spark), spark,
        lenient = true).count()
    }
    probed("html_extract") {
      // pure map-side regex chain over a markup shell around each doc:
      // the per-MB cost of extraction, no shuffle anywhere
      import graft.text.HtmlExtract
      val html = corpus.select(col("doc_id"),
        concat(lit("<html><head><title>D"), col("doc_id"),
          lit("</title><script>var x = 1;</script></head><body><p>"),
          col("text"), lit("</p><a href=\"x\">n</a></body></html>")).as("h"))
      html.select(length(HtmlExtract.htmlToText(col("h"))).as("n"))
        .agg(sum(col("n"))).collect()
      corpus.count()
    }
    // ivfpq decomposition probes: the 2.5M run measured linear CPU
    // (4.3× for 5× data) concentrated in ~3 full-width uniform stages;
    // these attribute it to the components (coarse quantizer, codebook
    // training, code assignment) so the growth table names the owner
    probed("ivfpq_cells") {
      sinkCount(graft.ann.Ann.kmeansCells(emb, k = 64, iters = 1))
    }
    probed("ivfpq_codebooks") {
      sinkCount(graft.ann.Pq.codebooks(emb, dim = dim, m = 8, k = 16))
    }
    probed("ivfpq_encode") {
      val books = graft.ann.Pq.codebooks(emb, dim = dim, m = 8, k = 16)
      sinkCount(graft.ann.Pq.encode(emb, books, dim = dim, m = 8))
    }
    probed("ivfpq") {
      // the billion-vector layout at soak scale: 64 coarse cells,
      // m=8 × k=16 codebooks, 64 queries routed to nprobe=2 cells —
      // ADC scores (nprobe/kCells)·N code rows per query
      val queries = emb.filter(col("vec_id") % (vecs / 64) === 0)
      graft.ann.Pq.ivfAdcTopK(emb, queries, dim = dim, m = 8, k = 16,
        kCells = 64, nprobe = 2, topK = 10).count()
    }
    timed("kmeans_cells") {
      sinkCount(graft.ann.Ann.kmeansCells(emb, k = 64, iters = 2))
    }
    timed("ivf_search") {
      val cells = graft.ann.Ann.kmeansCells(emb, k = 64, iters = 1)
        .withColumnRenamed("cell", "label")
      val indexed = emb.join(cells, "vec_id")
      val queries = emb.filter(col("vec_id") % (vecs / 64) === 0)
      graft.ann.Ann.ivfSearch(indexed, "label", queries, k = 10, nprobe = 2).count()
    }
    timed("int8_quantize") { sinkCount(graft.ann.Ann.quantizeInt8(emb)) }
    // lsh_pairs_carry measures SHUFFLE-JOIN payload cost, so force
    // shuffle plans: spark.range's tiny size estimate otherwise baits the
    // planner into BROADCASTING the multi-GB banded frame — a plan a real
    // corpus-scale band join can never take (and whose driver
    // materialization cost swamps the thing being measured)
    timed("lsh_pairs_carry") {
      // vectors ride the band-key shuffle (2 exchanges, dim-wide rows);
      // GRAFT_SOAK_DIM sweeps its payload — see SCALE.md lsh payload table
      noBroadcast(graft.ann.Ann.lshPairs(emb, dim = dim).count())
    }
    timed("shuffle_order") {
      sinkCount(graft.dedup.Sampling.shuffleOrder(corpus.select("doc_id"), "doc_id"))
    }
    timed("packed_shards") {
      // whitespace words as the token stream (~38/doc): the two-level
      // prefix sum, straddle-split explode, and bounded per-pack
      // assembly are what the growth curve must prove out
      val toks = corpus.select(col("doc_id"), split(col("text"), " ").as("w"))
      graft.dedup.Sampling.packedShards(toks, "doc_id", col("w"), budget = 2048L)
        .count()
    }
    timed("bm25_topk") {
      // 8 queries of 4 content words each against the full inverted
      // index — the index build (one corpus scan + term shuffle)
      // dominates, which is what the growth curve must show linear
      val queries = corpus.filter(col("doc_id") % (docs / 8) === 0)
        .select(col("doc_id").as("query_id"),
          slice(split(col("text"), " "), 2, 4).as("terms"))
      graft.text.TextSearch.bm25TopK(corpus, queries, k = 10).count()
    }
    timed("tfidf_topterms") {
      // maxDfRatio 0.5 is the at-scale configuration: corpus stopwords
      // (df ≈ N) are the hot join/window keys behind the measured 16×
      // straggler and can never win a top-k slot anyway
      graft.text.TextSearch.tfidfTopTerms(corpus, k = 3,
        maxDfRatio = Some(0.5)).count()
    }
    timed("contrastive_triples") {
      // pairs straight from the planted 50-block dup structure (the
      // minhash stage already times candidate generation itself)
      val pairs = spark.range(docs).filter(col("id") % 50 === 1)
        .select((col("id") - 1).as("id1"), col("id").as("id2"))
      graft.dedup.Sampling.contrastiveTriples(
        corpus.select("doc_id"), "doc_id", pairs).count()
    }

    val total = results.map(_._2).sum
    val stages = results.map { case (n, s, sh, sp, r, skew) =>
      s""""$n":{"sec":$s,"shuffle_bytes":$sh,"spill_bytes":$sp,"rows":$r,"task_skew":$skew}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"soak_total","value":$total,"unit":"sec","docs":$docs,""" +
      s""""vecs":$vecs,"dim":$dim,"docs_per_sec":${(docs / total).toLong},""" +
      s""""shuffle_total_bytes":${shuffleBytes.get},""" +
      s""""peak_stage_shuffle_bytes":${peakStageShuffle.get},""" +
      s""""spill_total_bytes":${spillBytes.get},"stages":$stages}""")
    spark.stop()
  }
}
