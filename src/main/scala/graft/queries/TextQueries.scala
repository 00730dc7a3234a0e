package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.text.{Bpe, TextAnalysis}
import graft.queries.Q.t

/** Text-analysis + deduplication operators over the `documents` table —
  * the training-data-pipeline surface (exact dedup, MinHash+LSH, SimHash,
  * n-gram Jaccard, language-ID, quality scoring, token counting, document
  * fingerprinting). The Spark side delegates to the library API
  * (graft.dedup.Dedup, graft.text.TextAnalysis); every oracle below
  * reproduces that API's MD5-hex/fold constructions bit-for-bit in DuckDB.
  */
object TextQueries {

  /** Documents augmented with deterministic near-duplicates: every 10th doc
    * gets a copy (id+1000000) with one token prepended. Guarantees the
    * near-dup queries have non-trivial results at every scale factor.
    */
  private def corpus(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    d.unionByName(
      d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), concat(lit("xx "), col("text")).as("text")))
  }

  private val corpusSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 1000000 AS doc_id, 'xx ' || text AS text
      |FROM documents WHERE doc_id % 10 = 0""".stripMargin

  private val shinglesSql =
    """SELECT doc_id, array_to_string(w[i:i+2], ' ') AS shingle FROM (
      |  SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM __CORPUS__) WHERE len(w) >= 3)""".stripMargin

  private val hashedShinglesSql =
    s"SELECT doc_id, md5(shingle) AS m FROM (${shinglesSql.replace("__CORPUS__", "corpus")})"

  private val numPerms = 8

  private def sigSelectSql: String =
    (1 to numPerms).map(h => s"min(substr(m, ${h + 1}) || substr(m, 1, $h)) AS sig$h").mkString(", ")

  // ------------------------------------------------------------ exact dedup

  /** Exact dedup by content hash (Dedup.exact): a single hash-shuffle on a
    * 32-char key instead of the full document payload.
    */
  val dedupExact: Q = Q(
    "d1_dedup_exact",
    """SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id, count(*) AS n_dups
      |FROM documents GROUP BY md5(text)""".stripMargin) { (s, dir) =>
    Dedup.exact(t(s, dir, "documents"))
  }

  // ---------------------------------------------------------------- MinHash

  /** MinHash signatures (Dedup.minhashSignatures: one md5 per shingle,
    * eight hex-rotation permutations). Shuffle key is doc_id with
    * map-side partial min.
    */
  val minhashSignature: Q = Q(
    "d2_minhash_signature",
    s"""SELECT doc_id, $sigSelectSql
       |FROM (${hashedShinglesSql.replace("corpus", "documents")})
       |GROUP BY doc_id""".stripMargin) { (s, dir) =>
    Dedup.minhashSignatures(t(s, dir, "documents").select(col("doc_id"), col("text")))
  }

  /** MinHash LSH candidate pairs (Dedup.minhashCandidates): 8 signatures
    * banded 4×2; docs sharing a band bucket become candidates; estimated
    * similarity = matching-signature fraction. Shuffles on the band hash,
    * never comparing all N² pairs.
    */
  val minhashLshPairs: Q = {
    val bandsSql = (1 to numPerms).grouped(2)
      .map(g => s"md5(${g.map(h => s"sig$h").mkString(" || ")})").mkString(", ")
    val matchesSql = (1 to numPerms)
      .map(h => s"CASE WHEN a.sig$h = b.sig$h THEN 1 ELSE 0 END").mkString(" +\n       |         ")
    Q(
      "d3_minhash_lsh_pairs",
      s"""WITH corpus AS ($corpusSql),
         |sigs AS (
         |  SELECT doc_id, $sigSelectSql
         |  FROM ($hashedShinglesSql)
         |  GROUP BY doc_id),
         |banded AS (
         |  SELECT doc_id, ${(1 to numPerms).map(h => s"sig$h").mkString(", ")},
         |    unnest([$bandsSql]) AS band
         |  FROM sigs)
         |SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2,
         |  round(($matchesSql) / $numPerms.0, 6) AS est_sim
         |FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id""".stripMargin) { (s, dir) =>
      Dedup.minhashCandidates(Dedup.minhashSignatures(corpus(s, dir)))
        .select(col("doc1"), col("doc2"), round(col("est_sim"), 6).as("est_sim"))
    }
  }

  /** Incremental near-dup detection (Dedup.incrementalMinhashCandidates):
    * a NEW data drop (odd docs + planted near-dup copies of every 10th
    * doc) banded against the STANDING corpus's signature index (even
    * docs) — the operational dedup shape at scale: the corpus signatures
    * are materialized once, each drop joins against them on band hashes.
    */
  val incrementalMinhash: Q = Q(
    "d9_incremental_minhash",
    s"""WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
       |newdocs AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, 'xx ' || text AS text
       |  FROM documents WHERE doc_id % 10 = 0),
       |csigs AS (
       |  SELECT doc_id, $sigSelectSql
       |  FROM (SELECT doc_id, md5(shingle) AS m FROM (${shinglesSql.replace("__CORPUS__", "corpus")}))
       |  GROUP BY doc_id),
       |nsigs AS (
       |  SELECT doc_id, $sigSelectSql
       |  FROM (SELECT doc_id, md5(shingle) AS m FROM (${shinglesSql.replace("__CORPUS__", "newdocs")}))
       |  GROUP BY doc_id),
       |cb AS (SELECT doc_id, ${(1 to numPerms).map(h => s"sig$h").mkString(", ")},
       |         unnest([${(1 to numPerms).grouped(2).map(g => s"md5(${g.map(h => s"sig$h").mkString(" || ")})").mkString(", ")}]) AS band
       |       FROM csigs),
       |nb AS (SELECT doc_id, ${(1 to numPerms).map(h => s"sig$h").mkString(", ")},
       |         unnest([${(1 to numPerms).grouped(2).map(g => s"md5(${g.map(h => s"sig$h").mkString(" || ")})").mkString(", ")}]) AS band
       |       FROM nsigs),
       |pairs AS (
       |  SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id,
       |    round((${(1 to numPerms).map(h => s"CASE WHEN n.sig$h = c.sig$h THEN 1 ELSE 0 END").mkString(" + ")}) / $numPerms.0, 6) AS est_sim
       |  FROM nb n JOIN cb c ON n.band = c.band)
       |SELECT new_id, corpus_id, est_sim FROM pairs""".stripMargin) { (s, dir) =>
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val standing = d.filter(col("doc_id") % 2 === 0)
    val fresh = d.filter(col("doc_id") % 2 === 1).unionByName(
      d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("xx "), col("text")).as("text")))
    Dedup.incrementalMinhashCandidates(
      Dedup.minhashSignatures(fresh), Dedup.minhashSignatures(standing))
      .select(col("new_id"), col("corpus_id"), round(col("est_sim"), 6).as("est_sim"))
  }

  // ---------------------------------------------------------------- SimHash

  private def simhashNibbleSql(k: Int): String =
    s"(strpos('0123456789abcdef', substr(md5(word), ${k + 1}, 1)) - 1)"

  private def simhashVoteSql(b: Int): String = {
    val shifted = s"(${simhashNibbleSql(b / 4)} // ${math.pow(2, b % 4).toInt})"
    s"sum(CASE WHEN $shifted % 2 = 1 THEN 1 ELSE -1 END) AS v$b"
  }

  /** 64-bit signature from the per-bit votes: OR of disjoint bit values
    * (DuckDB cannot form 1<<63 by shifting — the literal Long.MinValue is
    * spelled out and every branch CAST to BIGINT before the OR chain).
    */
  private val simhashBits = 0 until 64

  private val simhashSigSql: String = simhashBits
    .map(b => s"(CASE WHEN v$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
    .mkString(" | ")

  /** 64-bit SimHash (Dedup.simhash): each bit is the sign of the per-word
    * vote sum; one fully map-side-combinable aggregation.
    */
  val simhash: Q = Q(
    "d4_simhash",
    s"""SELECT doc_id, $simhashSigSql AS simhash FROM (
       |  SELECT doc_id, ${simhashBits.map(simhashVoteSql).mkString(", ")}
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
       |  GROUP BY doc_id)""".stripMargin) { (s, dir) =>
    Dedup.simhash(t(s, dir, "documents"))
  }

  /** SimHash near-dup pairs (Dedup.simhashPairs): Hamming ≤ 3 via the
    * 4-band pigeonhole over 16-bit bands — candidates from band-bucket
    * joins (4 × 2^16 key space), exact Hamming filter on candidates only.
    * Runs over the near-dup-augmented corpus so results are non-trivial.
    */
  private lazy val simhashPairsOracle: String =
    s"""WITH corpus AS ($corpusSql),
       |sigs AS (
       |  SELECT doc_id, $simhashSigSql AS simhash FROM (
       |    SELECT doc_id, ${simhashBits.map(simhashVoteSql).mkString(", ")}
       |    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM corpus)
       |    GROUP BY doc_id)),
       |banded AS (
       |  SELECT doc_id, simhash, band_no, (simhash >> (band_no * 16)) & 65535 AS band_val
       |  FROM sigs, (SELECT unnest([0, 1, 2, 3]) AS band_no))
       |SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM banded a JOIN banded b
       |  ON a.band_no = b.band_no AND a.band_val = b.band_val AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin

  val simhashPairs: Q = Q("d6_simhash_pairs", simhashPairsOracle) { (s, dir) =>
    graft.dedup.Dedup.simhashPairs(graft.dedup.Dedup.simhash(corpus(s, dir)))
      .select(col("doc1"), col("doc2"), col("hamming").cast("long").as("hamming"))
  }

  /** Combinatorial block-pair banding twin
    * (Dedup.simhashPairsCombinatorial) — the bucket-space scale path the
    * sf1 soak motivated. The oracle is d6's verbatim: BOTH bandings are
    * complete candidate generators for hamming ≤ 3, so the verified pair
    * set is identical — which is exactly the property worth
    * driver-checking.
    */
  val simhashPairsComb: Q = Q("d10_simhash_comb", simhashPairsOracle) { (s, dir) =>
    graft.dedup.Dedup.simhashPairsCombinatorial(graft.dedup.Dedup.simhash(corpus(s, dir)))
      .select(col("doc1"), col("doc2"), col("hamming").cast("long").as("hamming"))
  }

  // --------------------------------------------------------- n-gram Jaccard

  /** n-gram Jaccard near-dup pairs (Dedup.jaccardPairs): shingle inverted
    * index with a document-frequency cap (corpus-hot shingles are dropped
    * before the self-join — the k²-per-shingle scale guard), |A∩B| from
    * the capped self-join, |A∪B| from per-doc capped set sizes.
    */
  val ngramJaccardPairs: Q = {
    val maxDf = 50
    Q(
      "d5_ngram_jaccard_pairs",
      s"""WITH corpus AS ($corpusSql),
         |allsh AS (SELECT DISTINCT doc_id, shingle FROM (${shinglesSql.replace("__CORPUS__", "corpus")})),
         |sh AS (
         |  SELECT doc_id, shingle FROM allsh
         |  WHERE shingle IN (SELECT shingle FROM allsh GROUP BY shingle HAVING count(*) <= $maxDf)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT doc1, doc2,
         |  round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6) AS jaccard
         |FROM inter
         |JOIN sizes sa ON doc1 = sa.doc_id
         |JOIN sizes sb ON doc2 = sb.doc_id
         |WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5""".stripMargin) { (s, dir) =>
      Dedup.jaccardPairs(corpus(s, dir), minJaccard = 0.5, maxShingleDf = maxDf)
        .select(col("doc1"), col("doc2"), round(col("jaccard"), 6).as("jaccard"))
    }
  }

  /** Directed n-gram containment pairs (Dedup.containmentPairs):
    * |A∩B| / min(|A|,|B|) over the d5 capped shingle universe — the
    * asymmetric near-dup measure that catches an excerpt embedded in a
    * longer document (containment ≈ 1) where Jaccard ≈ 0. Fixture
    * plants a 12-word excerpt doc (id+2000000) for every 20th document;
    * the oracle rebuilds the identical capped index relationally.
    */
  val containmentPairs: Q = {
    val maxDf = 50
    Q(
      "d12_containment_pairs",
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 2000000 AS doc_id,
         |    array_to_string(string_split(text, ' ')[1:12], ' ') AS text
         |  FROM documents WHERE doc_id % 20 = 0),
         |allsh AS (SELECT DISTINCT doc_id, shingle FROM (${shinglesSql.replace("__CORPUS__", "corpus")})),
         |sh AS (
         |  SELECT doc_id, shingle FROM allsh
         |  WHERE shingle IN (SELECT shingle FROM allsh GROUP BY shingle HAVING count(*) <= $maxDf)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT doc1, doc2, sa.n AS na, sb.n AS nb, n_inter,
         |  round(CAST(n_inter AS DOUBLE) / least(sa.n, sb.n), 6) AS containment
         |FROM inter
         |JOIN sizes sa ON doc1 = sa.doc_id
         |JOIN sizes sb ON doc2 = sb.doc_id
         |WHERE CAST(n_inter AS DOUBLE) / least(sa.n, sb.n) >= 0.9""".stripMargin) { (s, dir) =>
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val withExcerpts = d.unionByName(
        d.filter(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            array_join(slice(split(col("text"), " "), 1, 12), " ").as("text")))
      Dedup.containmentPairs(withExcerpts, minContainment = 0.9, maxShingleDf = maxDf)
        .select(col("doc1"), col("doc2"), col("na"), col("nb"), col("n_inter"),
          round(col("containment"), 6).as("containment"))
    }
  }

  /** Sorted-neighborhood near-dup pairs (Dedup.sortedNeighborhoodPairs):
    * the Hernández–Stolfo blocking strategy — sort by a key prefix,
    * compare each doc only with its next `w − 1` sort neighbors, so
    * candidate volume is (w − 1)·N by construction. The global sort rank
    * is built WITHOUT a global sort (range-prefix buckets + per-range
    * row_number + broadcast cumulative offsets — the shuffleOrder
    * two-level pattern), and the oracle's single `row_number() OVER
    * (ORDER BY …)` is value-identical, which is exactly the claim worth
    * driver-checking: windows must NOT stop at range boundaries.
    * Fixture plants a 1-char-mutated copy (id+3000000, 11th char → 'x')
    * of every 10th document; both engines score the same
    * levenshtein-over-40-char-probes and keep dist ≤ 12.
    */
  val sortedNeighborhood: Q = Q(
    "d13_sorted_neighborhood",
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 3000000 AS doc_id,
      |    substr(text, 1, 10) || 'x' || substr(text, 12) AS text
      |  FROM documents WHERE doc_id % 10 = 0),
      |ranked AS (
      |  SELECT doc_id, substr(text, 1, 40) AS probe,
      |    row_number() OVER (ORDER BY substr(text, 1, 24), doc_id) - 1 AS rnk
      |  FROM corpus WHERE text IS NOT NULL)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(levenshtein(a.probe, b.probe) AS BIGINT) AS dist
      |FROM ranked a JOIN ranked b ON b.rnk BETWEEN a.rnk + 1 AND a.rnk + 3
      |WHERE levenshtein(a.probe, b.probe) <= 12""".stripMargin) { (s, dir) =>
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val withMutants = d.unionByName(
      d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(substring(col("text"), 1, 10), lit("x"),
            substring(col("text"), 12, Int.MaxValue)).as("text")))
    graft.dedup.Dedup.sortedNeighborhoodPairs(withMutants, windowSize = 4,
      maxDist = 12, keyLen = 24, probeLen = 40)
  }

  /** Duplicate-cluster resolution (Dedup.clusters): n-gram-Jaccard
    * candidate pairs resolved to canonical components by min-label
    * propagation; the oracle computes the same components with a
    * recursive reachability closure.
    */
  val dedupClusters: Q = {
    val maxDf = 50
    Q(
      "d7_dedup_clusters",
      s"""WITH RECURSIVE corpus AS ($corpusSql),
         |allsh AS (SELECT DISTINCT doc_id, shingle FROM (${shinglesSql.replace("__CORPUS__", "corpus")})),
         |sh AS (
         |  SELECT doc_id, shingle FROM allsh
         |  WHERE shingle IN (SELECT shingle FROM allsh GROUP BY shingle HAVING count(*) <= $maxDf)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id),
         |pairs AS (
         |  SELECT doc1, doc2 FROM inter
         |  JOIN sizes sa ON doc1 = sa.doc_id
         |  JOIN sizes sb ON doc2 = sb.doc_id
         |  WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5),
         |edges AS (SELECT doc1 AS s, doc2 AS d FROM pairs UNION SELECT doc2, doc1 FROM pairs),
         |reach(doc_id, r) AS (
         |  SELECT DISTINCT s, s FROM edges
         |  UNION
         |  SELECT e.d, r.r FROM reach r JOIN edges e ON r.doc_id = e.s)
         |SELECT doc_id, min(r) AS canonical_id FROM reach GROUP BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.clusters(Dedup.jaccardPairs(corpus(s, dir), minJaccard = 0.5, maxShingleDf = maxDf))
    }
  }

  /** Quality-aware cluster representatives (Dedup.clusterRepresentatives):
    * d7's connected components re-resolved to the "keep best duplicate"
    * curation policy — each cluster's representative is its
    * highest-quality member (x2's exact quality formula over the
    * augmented corpus, n_chars = length(text)), id-ascending on ties.
    * The oracle replays d7's recursive reachability closure, computes
    * the identical single-IEEE-division quality, and arg-maxes with
    * row_number. The 'xx '-prefixed near-dup copies shift word counts,
    * so representative choice genuinely depends on the quality term,
    * not just ids.
    */
  val clusterReps: Q = {
    val maxDf = 50
    Q(
      "d12_cluster_reps",
      s"""WITH RECURSIVE corpus AS ($corpusSql),
         |allsh AS (SELECT DISTINCT doc_id, shingle FROM (${shinglesSql.replace("__CORPUS__", "corpus")})),
         |sh AS (
         |  SELECT doc_id, shingle FROM allsh
         |  WHERE shingle IN (SELECT shingle FROM allsh GROUP BY shingle HAVING count(*) <= $maxDf)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id),
         |pairs AS (
         |  SELECT doc1, doc2 FROM inter
         |  JOIN sizes sa ON doc1 = sa.doc_id
         |  JOIN sizes sb ON doc2 = sb.doc_id
         |  WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5),
         |edges AS (SELECT doc1 AS s, doc2 AS d FROM pairs UNION SELECT doc2, doc1 FROM pairs),
         |reach(doc_id, r) AS (
         |  SELECT DISTINCT s, s FROM edges
         |  UNION
         |  SELECT e.d, r.r FROM reach r JOIN edges e ON r.doc_id = e.s),
         |clus AS (SELECT doc_id, min(r) AS canonical_id FROM reach GROUP BY doc_id),
         |q AS (SELECT doc_id,
         |        least(CAST(n_words AS DOUBLE) / 50, 1.0) * (1 - CAST(n_punct AS DOUBLE) / n_chars) AS q
         |      FROM (SELECT doc_id,
         |              len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_words,
         |              len(regexp_extract_all(text, '[^a-z0-9 ]')) AS n_punct,
         |              length(text) AS n_chars
         |            FROM corpus)),
         |j AS (SELECT c.canonical_id, c.doc_id, q.q,
         |        row_number() OVER (PARTITION BY c.canonical_id
         |                           ORDER BY q.q DESC, c.doc_id) AS rn
         |      FROM clus c JOIN q ON c.doc_id = q.doc_id)
         |SELECT canonical_id AS cluster_id,
         |  max(CASE WHEN rn = 1 THEN doc_id END) AS rep_id,
         |  round(max(q), 6) AS rep_quality,
         |  count(*) AS n_members
         |FROM j GROUP BY canonical_id""".stripMargin) { (s, dir) =>
      val c = corpus(s, dir)
      val clus = Dedup.clusters(
        Dedup.jaccardPairs(c, minJaccard = 0.5, maxShingleDf = maxDf))
      val quality = c.select(col("doc_id"),
        graft.text.TextAnalysis.qualityScore(
          graft.text.TextAnalysis.wordCount(col("text")),
          graft.text.TextAnalysis.punctCount(col("text")),
          length(col("text"))).as("q"))
      Dedup.clusterRepresentatives(clus, quality)
    }
  }

  /** Embedding-cosine near-duplicate pairs (Dedup.embeddingNearDups) —
    * the semantic dedup flavor: multi-table hyperplane-LSH candidates,
    * exact cosine verify, document metadata re-attached. The oracle
    * spells out the identical hyperplane fold chains
    * (Ann.hyperplaneCodeSql) and re-joins the documents table.
    */
  val embeddingNearDups: Q = {
    // bits=12 → 4096 buckets per table (growing with the parameter, so
    // the candidate join never fixes its fan-in); 0.3 is the near-dup
    // threshold that separates the synthetic corpus's label structure
    val dim = 64; val bits = 12; val tables = 4; val minSim = 0.3
    Q(
      "d8_embedding_neardup",
      s"""WITH raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |coded AS (
         |  SELECT vec_id, e,
         |    unnest([${(0 until tables).mkString(", ")}]) AS table_no,
         |    unnest([${(0 until tables).map(tb => s"(${graft.ann.Ann.hyperplaneCodeSql(tb, bits, dim)})").mkString(", ")}]) AS bucket
         |  FROM raw),
         |pairs AS (
         |  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2,
         |    round(list_cosine_similarity(a.e, b.e), 6) AS sim
         |  FROM coded a JOIN coded b
         |    ON a.table_no = b.table_no AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE list_cosine_similarity(a.e, b.e) >= $minSim)
         |SELECT p.id1, p.id2, p.sim, d1.source AS src1, d2.source AS src2
         |FROM pairs p
         |JOIN documents d1 ON p.id1 = d1.doc_id
         |JOIN documents d2 ON p.id2 = d2.doc_id""".stripMargin) { (s, dir) =>
      Dedup.embeddingNearDups(t(s, dir, "embeddings"), t(s, dir, "documents"),
        dim = dim, bits = bits, tables = tables, minSim = minSim)
    }
  }

  // ------------------------------------------------------------ text stats

  private def stopCountSql(stop: Seq[String]): String =
    s"len(list_filter(w, t -> list_contains([${stop.map("'" + _ + "'").mkString(",")}], t)))"

  /** Language-ID by stop-word voting (TextAnalysis.langId). */
  val langId: Q = Q(
    "x1_lang_id",
    s"""SELECT doc_id,
       |  CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
       |       WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
       |       WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
       |       WHEN s_es > 0 THEN 'es'
       |       ELSE 'und' END AS pred_lang,
       |  lang AS labeled_lang
       |FROM (SELECT doc_id, lang,
       |        ${stopCountSql(TextAnalysis.stopWordSeeds("en"))} AS s_en,
       |        ${stopCountSql(TextAnalysis.stopWordSeeds("de"))} AS s_de,
       |        ${stopCountSql(TextAnalysis.stopWordSeeds("fr"))} AS s_fr,
       |        ${stopCountSql(TextAnalysis.stopWordSeeds("es"))} AS s_es
       |      FROM (SELECT doc_id, lang, string_split(lower(text), ' ') AS w FROM documents))""".stripMargin) { (s, dir) =>
    t(s, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.langId(col("text")).as("pred_lang"),
      col("lang").as("labeled_lang"))
  }

  /** Quality scoring (TextAnalysis word/punct/stop counts + composite). */
  val qualityScore: Q = Q(
    "x2_quality_score",
    s"""SELECT doc_id, n_words,
       |  round(CAST(n_punct AS DOUBLE) / n_chars, 6) AS punct_ratio,
       |  round(CAST(n_stop AS DOUBLE) / n_words, 6) AS stop_ratio,
       |  round(least(CAST(n_words AS DOUBLE) / 50, 1.0) * (1 - CAST(n_punct AS DOUBLE) / n_chars), 6) AS quality
       |FROM (SELECT doc_id, n_chars,
       |        len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_words,
       |        len(regexp_extract_all(text, '[^a-z0-9 ]')) AS n_punct,
       |        ${stopCountSql(TextAnalysis.stopWordSeeds("en"))} AS n_stop
       |      FROM (SELECT doc_id, n_chars, text, string_split(lower(text), ' ') AS w FROM documents))
       |WHERE n_words > 0""".stripMargin) { (s, dir) =>
    t(s, dir, "documents")
      .select(
        col("doc_id"), col("n_chars"),
        TextAnalysis.wordCount(col("text")).as("n_words"),
        TextAnalysis.punctCount(col("text")).as("n_punct"),
        TextAnalysis.stopCount(split(lower(col("text")), " "),
          TextAnalysis.stopWordSeeds("en")).as("n_stop"))
      .filter(col("n_words") > 0)
      .select(
        col("doc_id"), col("n_words"),
        round(col("n_punct").cast("double") / col("n_chars"), 6).as("punct_ratio"),
        round(col("n_stop").cast("double") / col("n_words"), 6).as("stop_ratio"),
        round(TextAnalysis.qualityScore(col("n_words"), col("n_punct"), col("n_chars")), 6)
          .as("quality"))
  }

  /** Token counting: raw whitespace split vs the BPE-ish regex tokenizer
    * (TextAnalysis.tokenCount).
    */
  val tokenStats: Q = Q(
    "x3_token_stats",
    """SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens,
      |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS re_tokens
      |FROM documents""".stripMargin) { (s, dir) =>
    t(s, dir, "documents").select(
      col("doc_id"),
      size(split(col("text"), " ")).as("ws_tokens"),
      TextAnalysis.tokenCount(col("text")).as("re_tokens"))
  }

  /** Document fingerprint (TextAnalysis.fingerprint): identical left-fold
    * recurrence in both engines.
    */
  val fingerprint: Q = Q(
    "x4_fingerprint",
    """SELECT doc_id,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(regexp_extract_all(text, '[\s\S]'), c -> CAST(ascii(c) AS BIGINT))),
      |    (a, b) -> (a * 31 + b) % 1000000007) AS fp
      |FROM documents""".stripMargin) { (s, dir) =>
    t(s, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fp"))
  }

  /** LT/TT key canonicalization (reference Grounding.scala:367–387): the
    * order-insensitive (sorted, deduped) and order-sensitive token keys that
    * drive the grounding joins. Stemming variant lives in graft.text and is
    * covered by specs (no SQL-expressible Porter stemmer).
    */
  val textKeys: Q = Q(
    "t1_text_keys",
    """SELECT p_partkey,
      |  array_to_string(list_sort(list_distinct(string_split(lower(p_name), ' '))), '') AS lt_key,
      |  array_to_string(list_filter(string_split(lower(p_name), ' '), t -> t <> ''), '') AS tt_key
      |FROM part""".stripMargin) { (s, dir) =>
    val toks = split(lower(col("p_name")), " ")
    t(s, dir, "part").select(
      col("p_partkey"),
      array_join(array_sort(array_distinct(toks)), "").as("lt_key"),
      array_join(filter(toks, w => w =!= ""), "").as("tt_key"))
  }

  /** Sentence segmentation (the EPMC per-sentence data model applied to
    * raw text): split on sentence punctuation, explode with positions,
    * emit per-sentence stats. The explode is map-side; downstream sees
    * (doc, sentence_no, stats).
    */
  val sentenceSplit: Q = Q(
    "x5_sentence_split",
    """SELECT doc_id, CAST(i - 1 AS INT) AS sentence_no,
      |  length(trim(s)) AS n_chars,
      |  len(list_filter(string_split(trim(s), ' '), t -> t <> '')) AS n_words
      |FROM (SELECT doc_id, unnest(string_split_regex(text, '[.!?]+')) AS s,
      |             generate_subscripts(string_split_regex(text, '[.!?]+'), 1) AS i
      |      FROM documents)
      |WHERE length(trim(s)) > 0""".stripMargin) { (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), posexplode(split(col("text"), "[.!?]+")).as(Seq("i", "s")))
      .withColumn("s", trim(col("s")))
      .filter(length(col("s")) > 0)
      .select(
        col("doc_id"), col("i").as("sentence_no"),
        length(col("s")).as("n_chars"),
        org.apache.spark.sql.functions.size(filter(split(col("s"), " "), w => w =!= ""))
          .cast("long").as("n_words"))
  }

  /** Intra-document repetition removal (TextAnalysis.firstOccurrences
    * over TextAnalysis.sentences): repeated sentences inside one document
    * are dropped after their first appearance, order preserved — the
    * within-doc twin of corpus-level dedup (templated boilerplate,
    * looping generator output). Entirely map-side on the Spark side —
    * no explode, no shuffle; the oracle replays it relationally
    * (explode + min(pos) + ordered string_agg). The cleaned text is
    * compared by md5 so the result stays scalar-typed.
    */
  val sentenceDedup: Q = Q(
    "x24_sentence_dedup",
    """WITH s AS (SELECT doc_id,
      |  list_filter(list_transform(string_split_regex(text, '[.!?]+'), x -> trim(x)),
      |              x -> length(x) > 0) AS sents
      |  FROM documents),
      |e AS (SELECT doc_id, unnest(sents) AS sent,
      |             generate_subscripts(sents, 1) AS pos FROM s),
      |firsts AS (SELECT doc_id, sent, min(pos) AS pos FROM e GROUP BY doc_id, sent),
      |agg AS (SELECT doc_id, count(*) AS n_unique,
      |        string_agg(sent, ' ' ORDER BY pos) AS cleaned
      |        FROM firsts GROUP BY doc_id)
      |SELECT s.doc_id, CAST(len(s.sents) AS INT) AS n_sents,
      |  CAST(coalesce(agg.n_unique, 0) AS INT) AS n_unique,
      |  md5(coalesce(agg.cleaned, '')) AS clean_md5
      |FROM s LEFT JOIN agg ON s.doc_id = agg.doc_id""".stripMargin) { (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.sentences(col("text")).as("sents"))
      .select(col("doc_id"), col("sents"),
        TextAnalysis.firstOccurrences(col("sents")).as("uniq"))
      .select(col("doc_id"),
        size(col("sents")).as("n_sents"),
        size(col("uniq")).as("n_unique"),
        md5(concat_ws(" ", col("uniq"))).as("clean_md5"))
  }

  /** Boilerplate n-gram detection (Dedup.hotShingles): top-k shingles by
    * document frequency over the near-dup-augmented corpus — what the
    * jaccard DF cap drops, surfaced for cleaning.
    */
  val boilerplateNgrams: Q = Q(
    "x8_boilerplate_ngrams",
    s"""WITH corpus AS ($corpusSql),
       |sh AS (SELECT DISTINCT doc_id, shingle FROM (${shinglesSql.replace("__CORPUS__", "corpus")}))
       |SELECT shingle, count(*) AS df FROM sh
       |GROUP BY shingle HAVING count(*) >= 2
       |ORDER BY df DESC, shingle LIMIT 20""".stripMargin) { (s, dir) =>
    Dedup.hotShingles(corpus(s, dir), minDf = 2L, k = 20)
  }

  /** Train/test decontamination (CorpusClean.splitLeakage): near-dup
    * pairs straddling a hash-split boundary — the leakage a random split
    * cannot see and an eval-integrity pipeline must remove.
    */
  val splitLeakage: Q = {
    val maxDf = 50
    Q(
      "x11_split_leakage",
      s"""WITH corpus AS ($corpusSql),
         |allsh AS (SELECT DISTINCT doc_id, shingle FROM (${shinglesSql.replace("__CORPUS__", "corpus")})),
         |sh AS (
         |  SELECT doc_id, shingle FROM allsh
         |  WHERE shingle IN (SELECT shingle FROM allsh GROUP BY shingle HAVING count(*) <= $maxDf)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id),
         |pairs AS (
         |  SELECT doc1, doc2,
         |    round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6) AS jaccard
         |  FROM inter
         |  JOIN sizes sa ON doc1 = sa.doc_id
         |  JOIN sizes sb ON doc2 = sb.doc_id
         |  WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5),
         |labels AS (
         |  SELECT doc_id,
         |    CASE WHEN ${bucketSql("doc_id")} < 80 THEN 'train'
         |         WHEN ${bucketSql("doc_id")} < 90 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM corpus)
         |SELECT doc1, l1.split AS split1, doc2, l2.split AS split2, jaccard
         |FROM pairs
         |JOIN labels l1 ON doc1 = l1.doc_id
         |JOIN labels l2 ON doc2 = l2.doc_id
         |WHERE l1.split <> l2.split""".stripMargin) { (s, dir) =>
      graft.pipelines.CorpusClean.splitLeakage(corpus(s, dir), minJaccard = 0.5,
        maxShingleDf = maxDf)
        .select(col("doc1"), col("split1"), col("doc2"), col("split2"),
          round(col("jaccard"), 6).as("jaccard"))
    }
  }

  /** Overlapping word-window chunking (TextAnalysis.chunks): the
    * sequence-packing precursor, all map-side array ops. The oracle
    * replays the identical stride/ceiling arithmetic with list slicing.
    */
  val chunking: Q = {
    val (cw, ov) = (40, 10)
    val stride = cw - ov
    Q(
      "x10_chunking",
      s"""SELECT doc_id, CAST(i AS INT) AS chunk_no,
         |  array_to_string(w[(i*$stride + 1):(i*$stride + $cw)], ' ') AS chunk_text
         |FROM (
         |  SELECT doc_id, w, unnest(range(0, nchunks)) AS i FROM (
         |    SELECT doc_id, w,
         |      greatest(1, (len(w) - $ov + ${stride - 1}) // $stride) AS nchunks
         |    FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
         |          FROM documents)))""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          filter(split(col("text"), " "), t => t =!= "").as("w"))
        .select(col("doc_id"),
          posexplode(graft.text.TextAnalysis.chunksFromWords(col("w"), cw, ov))
            .as(Seq("chunk_no", "chunk_text")))
    }
  }

  private def bucketSql(idExpr: String): String = {
    def nib(k: Int) =
      s"(strpos('0123456789abcdef', substr(md5(CAST($idExpr AS VARCHAR)), ${k + 1}, 1)) - 1)"
    s"((${nib(0)} * 4096 + ${nib(1)} * 256 + ${nib(2)} * 16 + ${nib(3)}) % 100)"
  }

  /** Deterministic train/val/test split (Sampling.hashSplit): assignment
    * is a pure function of the id hash — rerun-stable, no shuffle, no
    * RNG. Oracle replays the identical nibble arithmetic.
    */
  val hashSplit: Q = Q(
    "x6_hash_split",
    s"""SELECT split, count(*) AS n, min(doc_id) AS min_id FROM (
       |  SELECT doc_id,
       |    CASE WHEN ${bucketSql("doc_id")} < 80 THEN 'train'
       |         WHEN ${bucketSql("doc_id")} < 90 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents)
       |GROUP BY split""".stripMargin) { (s, dir) =>
    graft.dedup.Sampling.hashSplit(t(s, dir, "documents"), "doc_id")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"))
  }

  /** Deterministic stratified downsampling (Sampling.stratifiedSample):
    * per-language keep rates rebalance the source mix, hash-gated so the
    * kept set is reproducible at any scale.
    */
  val stratifiedSample: Q = {
    val rates = Seq("en" -> 100, "de" -> 50, "fr" -> 25, "es" -> 10)
    val pctSql = rates.foldLeft("0") { case (acc, (l, p)) =>
      s"CASE WHEN lang = '$l' THEN $p ELSE $acc END"
    }
    Q(
      "x7_stratified_sample",
      s"""SELECT lang, count(*) AS n FROM documents
         |WHERE ${bucketSql("doc_id")} < ($pctSql)
         |GROUP BY lang""".stripMargin) { (s, dir) =>
      graft.dedup.Sampling.stratifiedSample(
        t(s, dir, "documents"), "doc_id", "lang",
        rates.map { case (l, p) => l -> p / 100.0 }.toMap)
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
    }
  }

  /** Raw 16-bit md5-nibble bucket of an arbitrary string SQL expression —
    * the DuckDB twin of Sampling.hashBucket16 (bucketSql is the %100
    * variant over a casted id).
    */
  private def bucket16Sql(strExpr: String): String = {
    def nib(k: Int) =
      s"(strpos('0123456789abcdef', substr(md5($strExpr), ${k + 1}, 1)) - 1)"
    s"(${nib(0)} * 4096 + ${nib(1)} * 256 + ${nib(2)} * 16 + ${nib(3)})"
  }

  /** Contrastive triple mining (Sampling.contrastiveTriples): MinHash-LSH
    * near-dup candidates become (anchor, positive); the negative is the
    * deterministic hash-bucket pick — bucket of the pair-key hash, then
    * min_by over a per-pair md5 key with the pair's own docs excluded.
    * The oracle replays the d3 banding chain verbatim plus the identical
    * nibble/bucket/min_by arithmetic, so all three ids hash-match.
    */
  val contrastiveTriples: Q = {
    val bandsSql = (1 to numPerms).grouped(2)
      .map(g => s"md5(${g.map(h => s"sig$h").mkString(" || ")})").mkString(", ")
    val perBucket = 16
    Q(
      "x25_contrastive_triples",
      s"""WITH corpus AS ($corpusSql),
         |sigs AS (
         |  SELECT doc_id, $sigSelectSql
         |  FROM ($hashedShinglesSql)
         |  GROUP BY doc_id),
         |banded AS (
         |  SELECT doc_id, unnest([$bandsSql]) AS band FROM sigs),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS anchor_id, b.doc_id AS positive_id
         |  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
         |nb AS (SELECT greatest(1, count(*) // $perBucket) AS n_buckets FROM corpus),
         |bucketed AS (
         |  SELECT doc_id AS cand_id,
         |    ${bucket16Sql("CAST(doc_id AS VARCHAR)")} % n_buckets AS bucket
         |  FROM corpus, nb),
         |keyed AS (
         |  SELECT anchor_id, positive_id,
         |    ${bucket16Sql("CAST(anchor_id AS VARCHAR) || '_' || CAST(positive_id AS VARCHAR)")}
         |      % n_buckets AS bucket
         |  FROM pairs, nb)
         |SELECT anchor_id, positive_id,
         |  min_by(cand_id,
         |    md5(CAST(anchor_id AS VARCHAR) || '_' || CAST(positive_id AS VARCHAR) ||
         |        '_' || CAST(cand_id AS VARCHAR)) || CAST(cand_id AS VARCHAR)) AS negative_id
         |FROM keyed JOIN bucketed USING (bucket)
         |WHERE cand_id <> anchor_id AND cand_id <> positive_id
         |GROUP BY anchor_id, positive_id""".stripMargin) { (s, dir) =>
      val c = corpus(s, dir)
      val pairs = Dedup.minhashCandidates(Dedup.minhashSignatures(c))
        .select(col("doc1").as("id1"), col("doc2").as("id2"))
      graft.dedup.Sampling.contrastiveTriples(c, "doc_id", pairs, perBucket = perBucket)
    }
  }

  /** The composed training-corpus cleaning pipeline
    * (graft.pipelines.CorpusClean): language filter → quality gate →
    * exact canonicalization → near-dup loser removal → deterministic
    * split, every stage the same oracle-checked operator the x/d queries
    * verify individually — here verified END TO END against one SQL
    * program over the same corpus.
    */
  val cleanCorpus: Q = {
    val maxDf = 50
    val langCase =
      s"""CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
         |     WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
         |     WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
         |     WHEN s_es > 0 THEN 'es' ELSE 'und' END""".stripMargin
    Q(
      "x9_clean_corpus",
      s"""WITH RECURSIVE corpus AS ($corpusSql),
         |scored AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, $langCase AS pl, nw, np, nc FROM (
         |      SELECT doc_id,
         |        ${stopCountSql(TextAnalysis.stopWordSeeds("en"))} AS s_en,
         |        ${stopCountSql(TextAnalysis.stopWordSeeds("de"))} AS s_de,
         |        ${stopCountSql(TextAnalysis.stopWordSeeds("fr"))} AS s_fr,
         |        ${stopCountSql(TextAnalysis.stopWordSeeds("es"))} AS s_es,
         |        len(list_filter(string_split(text, ' '), t -> t <> '')) AS nw,
         |        len(regexp_extract_all(text, '[^a-z0-9 ]')) AS np,
         |        length(text) AS nc
         |      FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS w FROM corpus)))
         |  WHERE pl = 'en' AND nw > 0
         |    AND least(CAST(nw AS DOUBLE) / 50, 1.0) * (1 - CAST(np AS DOUBLE) / nc) >= 0.3),
         |canon AS (SELECT min(doc_id) AS doc_id FROM corpus GROUP BY md5(text)),
         |allsh AS (SELECT DISTINCT doc_id, shingle FROM (${shinglesSql.replace("__CORPUS__", "corpus")})),
         |sh AS (
         |  SELECT doc_id, shingle FROM allsh
         |  WHERE shingle IN (SELECT shingle FROM allsh GROUP BY shingle HAVING count(*) <= $maxDf)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id),
         |pairs AS (
         |  SELECT doc1, doc2 FROM inter
         |  JOIN sizes sa ON doc1 = sa.doc_id
         |  JOIN sizes sb ON doc2 = sb.doc_id
         |  WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5),
         |edges AS (SELECT doc1 AS s, doc2 AS d FROM pairs UNION SELECT doc2, doc1 FROM pairs),
         |reach(doc_id, r) AS (
         |  SELECT DISTINCT s, s FROM edges
         |  UNION
         |  SELECT e.d, r.r FROM reach r JOIN edges e ON r.doc_id = e.s),
         |losers AS (
         |  SELECT doc_id FROM (SELECT doc_id, min(r) AS canonical_id FROM reach GROUP BY doc_id)
         |  WHERE doc_id <> canonical_id),
         |kept AS (
         |  SELECT s.doc_id FROM scored s JOIN canon c ON s.doc_id = c.doc_id
         |  WHERE s.doc_id NOT IN (SELECT doc_id FROM losers))
         |SELECT doc_id,
         |  CASE WHEN ${bucketSql("doc_id")} < 80 THEN 'train'
         |       WHEN ${bucketSql("doc_id")} < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM kept""".stripMargin) { (s, dir) =>
      graft.pipelines.CorpusClean(corpus(s, dir), minQuality = 0.3, minJaccard = 0.5,
        maxShingleDf = maxDf)
        .select(col("doc_id"), col("split"))
    }
  }

  /** Stemmed LT/TT keys over the document corpus — exercises the native
    * porter_stem Catalyst expression (graft.text.StemArrayExpression) in
    * the bench path. No machine stemmer oracle exists offline (DuckDB's
    * `stem()` needs the non-bundled fts extension; no Python stemmer
    * package is installed), but none is needed: the synthetic corpus
    * draws from a CLOSED 31-word vocabulary (verified identical at
    * sf0.001/0.01/0.1, all lowercase alpha), so the oracle inlines the
    * Porter (1980) stem of each word, derived BY HAND from the published
    * algorithm — independent of the implementation under test:
    * customer→custom (step 4 ER, m=2), key→kei and query→queri (step
    * 1c), merge→merg / table→tabl / value→valu (step 5a, m=1 and not
    * *o), line→line (step 5a blocked, "lin" ends cvc), filter/order keep
    * ER (m=1), the rest carry no suffix. Any token outside the closed
    * set maps to a '!' sentinel so a vocabulary drift breaks the hash
    * loudly instead of silently passing. The full-step algorithm stays
    * locked by PorterStemmerSpec (published-paper vocabulary) +
    * StemExpressionSpec kernel parity; this oracle pins the pipeline
    * (tokenize → case-sensitive stopword drop → normalize → stem →
    * dedup-sort LT / ordered TT) cross-engine.
    */
  val stemmedKeys: Q = {
    val stem = Map("customer" -> "custom", "key" -> "kei", "merge" -> "merg",
      "query" -> "queri", "table" -> "tabl", "value" -> "valu")
    val identity = Seq("agg", "batch", "big", "column", "data", "dup", "fast",
      "filter", "group", "hash", "join", "line", "order", "part", "row",
      "scan", "slow", "small", "sort", "spark", "stream", "vector", "window")
    val cases = (stem.toSeq ++ identity.map(w => w -> w)).sortBy(_._1)
      .map { case (w, st) => s"WHEN '$w' THEN '$st'" }.mkString(" ")
    Q(
      "t2_stemmed_keys",
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ws
         |  FROM documents)
         |SELECT doc_id,
         |  array_to_string(list_sort(list_distinct(list_transform(
         |    list_filter(ws, t -> t NOT IN ('a', 'the')),
         |    t -> CASE t $cases ELSE '!' END))), '') AS lt_key,
         |  array_to_string(ws, '') AS tt_key
         |FROM toks""".stripMargin) { (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        graft.text.TextNormalize.ltKey(col("text")).as("lt_key"),
        graft.text.TextNormalize.ttKey(col("text")).as("tt_key"))
    }
  }

  /** Sequence packing (Sampling.sequencePacks): docs in id order fill
    * fixed token-budget context windows; pack_id = ⌊exclusive-prefix-sum
    * / budget⌋ via the two-level distributed prefix sum (per-range
    * subtotals + broadcast offsets — never one global window over the
    * corpus). The oracle's single global cumsum is value-identical.
    */
  val sequencePacking: Q = {
    val budget = 512L
    Q(
      "x12_sequence_packing",
      s"""SELECT doc_id,
         |  CAST(tokens AS BIGINT) AS tokens,
         |  CAST(start AS BIGINT) AS start,
         |  CAST(start // $budget AS BIGINT) AS pack_id,
         |  CAST(start % $budget AS BIGINT) AS offset_in_pack
         |FROM (
         |  SELECT doc_id, tokens,
         |    COALESCE(sum(tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
         |  FROM (SELECT doc_id,
         |          len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS tokens
         |        FROM documents))""".stripMargin) { (s, dir) =>
      graft.dedup.Sampling.sequencePacks(
        t(s, dir, "documents"), "doc_id",
        graft.text.TextAnalysis.tokenCount(col("text")),
        budget = budget, numRanges = 16)
    }
  }

  /** Straddle-split pack spans (Sampling.sequencePackSpans): one row per
    * (doc, pack) a document touches, so a packed-dataset writer can fill
    * every context window exactly. Everything after the x12 prefix sum is
    * a map-side explode over the touched-pack range. The oracle replays
    * the identical span arithmetic with a generate_series-style unnest
    * over the same global cumsum.
    */
  val sequencePackSpans: Q = {
    val budget = 512L
    Q(
      "x16_pack_spans",
      s"""SELECT doc_id,
         |  CAST(pack AS BIGINT) AS pack_id,
         |  CAST(greatest(start, pack * $budget) - pack * $budget AS BIGINT) AS offset_in_pack,
         |  CAST(least(start + tokens, (pack + 1) * $budget)
         |       - greatest(start, pack * $budget) AS BIGINT) AS take_tokens,
         |  CAST(greatest(start, pack * $budget) - start AS BIGINT) AS doc_offset
         |FROM (
         |  SELECT doc_id, tokens, start,
         |    unnest(range(start // $budget,
         |                 greatest(start // $budget, (start + tokens - 1) // $budget) + 1)) AS pack
         |  FROM (
         |    SELECT doc_id, CAST(tokens AS BIGINT) AS tokens,
         |      CAST(COALESCE(sum(tokens) OVER (ORDER BY doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
         |    FROM (SELECT doc_id,
         |            len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS tokens
         |          FROM documents)))""".stripMargin) { (s, dir) =>
      graft.dedup.Sampling.sequencePackSpans(
        t(s, dir, "documents"), "doc_id",
        graft.text.TextAnalysis.tokenCount(col("text")),
        budget = budget, numRanges = 16)
    }
  }

  /** The packing oracle over a `toks(doc_id, w)` CTE: the global
    * cumulative token sum, each doc's spans per `budget`-token pack, and
    * per pack its span count, token count and the md5 of its text.
    */
  private def packSql(budget: Long): String =
    s"""cum AS (
       |  SELECT doc_id, CAST(len(w) AS BIGINT) AS tokens,
       |    CAST(COALESCE(sum(len(w)) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
       |  FROM toks),
       |spans AS (
       |  SELECT doc_id, pack,
       |    greatest(start, pack * $budget) - pack * $budget AS off,
       |    least(start + tokens, (pack + 1) * $budget)
       |      - greatest(start, pack * $budget) AS take,
       |    greatest(start, pack * $budget) - start AS doff
       |  FROM (
       |    SELECT doc_id, tokens, start,
       |      unnest(range(start // $budget,
       |                   greatest(start // $budget, (start + tokens - 1) // $budget) + 1)) AS pack
       |    FROM cum)),
       |pieces AS (
       |  SELECT s.pack, s.off, s.take,
       |    array_to_string(t.w[s.doff + 1 : s.doff + s.take], ' ') AS piece
       |  FROM spans s JOIN toks t USING (doc_id) WHERE s.take > 0)
       |SELECT CAST(pack AS BIGINT) AS pack_id,
       |  count(*) AS n_spans,
       |  CAST(sum(take) AS BIGINT) AS n_tokens,
       |  md5(string_agg(piece, ' ' ORDER BY off)) AS shard_md5
       |FROM pieces GROUP BY pack""".stripMargin

  /** Materialized packed sequences (Sampling.packedShards): the x16 span
    * assignments joined back to token arrays and assembled into one
    * token sequence per context window — what a packed-dataset writer
    * actually emits. Shard content is compared by md5 of the
    * space-joined token stream; every interior pack carries exactly
    * `budget` tokens. The oracle replays the same global cumsum, span
    * arithmetic, list slicing, and offset-ordered concatenation.
    */
  val packedShards: Q = {
    val budget = 512L
    Q(
      "x26_packed_shards",
      s"""WITH toks AS (SELECT doc_id,
         |    regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS w
         |  FROM documents),
         |""".stripMargin + packSql(budget)) { (s, dir) =>
      graft.dedup.Sampling.packedShards(
        t(s, dir, "documents"), "doc_id",
        regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)),
        budget = budget, numRanges = 16)
        .select(col("pack_id"), col("n_spans"), col("n_tokens"),
          md5(concat_ws(" ", col("tokens"))).as("shard_md5"))
    }
  }

  /** Deterministic corpus shuffle (Sampling.shuffleOrder): stable
    * pseudo-random training order by ranking on md5(id) — the oracle IS
    * the corpus-wide `row_number` the operator refuses to run as one
    * window (md5-hex range keys + broadcast offsets + per-range ranks
    * reproduce the global order exactly; SamplingSpec pins the plan
    * shape).
    */
  val shuffleOrder: Q = Q(
    "x17_shuffle_order",
    """SELECT doc_id,
      |  CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1
      |       AS BIGINT) AS position
      |FROM documents""".stripMargin) { (s, dir) =>
    graft.dedup.Sampling.shuffleOrder(t(s, dir, "documents"), "doc_id", numRanges = 64)
      .select(col("doc_id"), col("position"))
  }

  /** TF-IDF top-3 terms per document (TextSearch.tfidfTopTerms): keyword
    * extraction with the ln-free idf variant `(N+1)/(df+1)`, so the score
    * is exact rational-in-double and both engines rank identically with
    * no rounding anywhere.
    */
  val tfidfTerms: Q = Q(
    "x18_tfidf_terms",
    """WITH tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
      |    FROM documents)
      |  GROUP BY doc_id, term),
      |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT count(*) AS n_docs FROM documents)
      |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, score, CAST(rnk AS INT) AS rank
      |FROM (
      |  SELECT doc_id, term, tf,
      |    CAST(tf AS DOUBLE) * (n_docs + 1) / (df + 1) AS score,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY CAST(tf AS DOUBLE) * (n_docs + 1) / (df + 1) DESC, term) AS rnk
      |  FROM tf JOIN dfx USING (term) CROSS JOIN n)
      |WHERE rnk <= 3""".stripMargin) { (s, dir) =>
    graft.text.TextSearch.tfidfTopTerms(t(s, dir, "documents"), k = 3)
  }

  /** The capped tf-idf path (TextSearch.tfidfTopTerms with maxDfRatio) —
    * the shipped fix for the measured 10M hot-term straggler, here
    * driver-checked cross-engine rather than only output-compared
    * in-suite: the oracle applies the SAME relational df filter
    * (df <= 0.75·N before the scoring join). At sf0.01 the synthetic
    * vocabulary makes the cap bite hard — 29 of 31 terms are corpus-hot,
    * so most docs keep fewer than k surviving terms and LOSE rows, which
    * is exactly the documented cap-semantics edge (see the maxDfRatio
    * scaladoc): both engines must agree on the reduced row set, not just
    * on reordered scores.
    */
  val tfidfCapped: Q = Q(
    "x30_tfidf_capped",
    """WITH tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
      |    FROM documents)
      |  GROUP BY doc_id, term),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |dfk AS (SELECT term, df FROM dfx CROSS JOIN n WHERE df <= n_docs * 0.75)
      |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, score, CAST(rnk AS INT) AS rank
      |FROM (
      |  SELECT doc_id, term, tf,
      |    CAST(tf AS DOUBLE) * (n_docs + 1) / (df + 1) AS score,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY CAST(tf AS DOUBLE) * (n_docs + 1) / (df + 1) DESC, term) AS rnk
      |  FROM tf JOIN dfk USING (term) CROSS JOIN n)
      |WHERE rnk <= 3""".stripMargin) { (s, dir) =>
    graft.text.TextSearch.tfidfTopTerms(t(s, dir, "documents"), k = 3,
      maxDfRatio = Some(0.75))
  }

  /** Source-mixture rebalancing (Sampling.mixtureSample): keep each
    * listed source at rate `min(1, weight·budget / source_chars)` by
    * 16-bit id-hash bucket — rates DERIVED in-plan from the observed
    * per-source totals, not caller constants. In this fixture src0's
    * share clips to rate 1 while src1/src2 downsample fractionally, so
    * both the clipped and fractional paths are hash-checked. The oracle
    * replays the identical nibble arithmetic and the identical
    * product/division chain over exact long totals.
    */
  val mixtureSample: Q = {
    val (w0, w1, w2) = (0.5, 0.3, 0.2)
    val budget = 20000L
    def nib16(idExpr: String): String = {
      def nib(k: Int) =
        s"(strpos('0123456789abcdef', substr(md5(CAST($idExpr AS VARCHAR)), ${k + 1}, 1)) - 1)"
      s"(${nib(0)} * 4096 + ${nib(1)} * 256 + ${nib(2)} * 16 + ${nib(3)})"
    }
    val caseW = s"CASE d.source WHEN 'src0' THEN $w0 WHEN 'src1' THEN $w1 WHEN 'src2' THEN $w2 END"
    Q(
      "x19_mixture_sample",
      s"""WITH totals AS (
         |  SELECT source, sum(CAST(n_chars AS BIGINT)) AS toks
         |  FROM documents GROUP BY source)
         |SELECT d.doc_id, d.source
         |FROM documents d JOIN totals t USING (source)
         |WHERE ($caseW) IS NOT NULL
         |  AND ${nib16("d.doc_id")} < least(1.0, ($caseW) * $budget / t.toks) * 65536.0""".stripMargin) { (s, dir) =>
      graft.dedup.Sampling.mixtureSample(
        t(s, dir, "documents"), "doc_id", "source", col("n_chars"),
        Map("src0" -> w0, "src1" -> w1, "src2" -> w2), budget = budget)
        .select(col("doc_id"), col("source"))
    }
  }

  /** Temperature-based source rebalancing (Sampling.temperatureSample):
    * rates derived from per-stratum token mass via √n smoothing —
    * α = 1/2 exactly because sqrt is IEEE-correctly-rounded on both
    * engines (pow is not), so the keep-set hash-matches bit-for-bit.
    * The oracle replays the ordered normalizer fold and the identical
    * division chain.
    */
  val temperatureSample: Q = {
    val budget = 20000L
    Q(
      "x27_temperature_sample",
      s"""WITH totals AS (
         |  SELECT source, sum(CAST(n_chars AS BIGINT)) AS toks,
         |    sqrt(CAST(sum(CAST(n_chars AS BIGINT)) AS DOUBLE)) AS w
         |  FROM documents GROUP BY source),
         |z AS (SELECT list_reduce(list_prepend(0.0, list(w ORDER BY source)),
         |             (a, b) -> a + b) AS z
         |      FROM totals)
         |SELECT d.doc_id, d.source
         |FROM documents d JOIN totals t USING (source), z
         |WHERE ${bucket16Sql("CAST(d.doc_id AS VARCHAR)")}
         |  < least(1.0, $budget * t.w / z.z / t.toks) * 65536.0""".stripMargin) { (s, dir) =>
      graft.dedup.Sampling.temperatureSample(
        t(s, dir, "documents"), "doc_id", "source", col("n_chars"), budget = budget)
        .select(col("doc_id"), col("source"))
    }
  }

  /** Per-domain corpus governance — the FineWeb-style "count, cap and
    * audit by source domain" primitive. The testdata carries no URLs, so
    * each doc gets a deterministic planted URL IN THE QUERY (identically
    * on both engines, the x15 PII pattern); Spark extracts the host with
    * the codegen'd parse_url and the oracle replays it with a regex.
    * One combinable shuffle on the domain key.
    */
  val domainStats: Q = Q(
    "x29_domain_stats",
    """SELECT regexp_extract(url, '^[a-z]+://([^/]+)/', 1) AS domain,
      |  count(*) AS n_docs,
      |  CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars,
      |  min(doc_id) AS first_doc
      |FROM (SELECT doc_id, n_chars,
      |        'https://site' || CAST(doc_id % 23 AS VARCHAR) ||
      |        '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url
      |      FROM documents)
      |GROUP BY 1""".stripMargin) { (s, dir) =>
    val url = concat(lit("https://site"), (col("doc_id") % 23).cast("string"),
      lit(".example.com/doc/"), col("doc_id").cast("string"))
    t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"), url.as("url"))
      .select(col("doc_id"), col("n_chars"),
        parse_url(col("url"), lit("HOST")).as("domain"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("total_chars"),
        min(col("doc_id")).as("first_doc"))
  }

  /** Length-quantile curriculum buckets: documents assigned to quartile
    * buckets of the token-count distribution — the batching/curriculum
    * primitive (short-to-long ordering, length-homogeneous batches).
    * Boundaries are EXACT interpolated percentiles (one tiny agg,
    * broadcast back; the a15 mechanism), rounded to 6 dp on BOTH engines
    * before the boundary comparison so an ulp of interpolation
    * difference cannot flip a bucket. Everything else is map-side CASE
    * assignment + one combinable rollup.
    */
  val lengthBuckets: Q = Q(
    "x28_length_buckets",
    """WITH toks AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n
      |  FROM documents),
      |qs AS (SELECT round(quantile_cont(n, 0.25), 6) AS q1,
      |              round(quantile_cont(n, 0.5), 6) AS q2,
      |              round(quantile_cont(n, 0.75), 6) AS q3 FROM toks)
      |SELECT bucket, count(*) AS n_docs,
      |  min(n) AS min_tokens, max(n) AS max_tokens
      |FROM (SELECT CASE WHEN n <= q1 THEN 0 WHEN n <= q2 THEN 1
      |             WHEN n <= q3 THEN 2 ELSE 3 END AS bucket, n
      |      FROM toks, qs)
      |GROUP BY bucket""".stripMargin) { (s, dir) =>
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
    val qs = toks.agg(
      round(percentile(col("n"), lit(0.25)), 6).as("q1"),
      round(percentile(col("n"), lit(0.5)), 6).as("q2"),
      round(percentile(col("n"), lit(0.75)), 6).as("q3"))
    toks.crossJoin(broadcast(qs))
      .select(when(col("n") <= col("q1"), 0).when(col("n") <= col("q2"), 1)
        .when(col("n") <= col("q3"), 2).otherwise(3).as("bucket"), col("n"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n")).as("min_tokens"), max(col("n")).as("max_tokens"))
  }

  /** Intra-document repetition ratio: 1 − distinct/total word trigrams
    * (TextAnalysis.wordTrigrams) — the Gopher-style repetitious-text
    * quality filter, entirely map-side. The oracle replays the identical
    * trigram construction and ratio.
    */
  val repetition: Q = Q(
    "x13_repetition_ratio",
    """SELECT doc_id,
      |  CAST(len(tg) AS INT) AS n_trigrams,
      |  CAST(len(list_distinct(tg)) AS INT) AS n_unique,
      |  round(CASE WHEN len(tg) > 0
      |        THEN 1.0 - CAST(len(list_distinct(tg)) AS DOUBLE) / len(tg)
      |        ELSE 0.0 END, 6) AS rep_ratio
      |FROM (
      |  SELECT doc_id,
      |    CASE WHEN len(w) >= 3
      |      THEN list_transform(range(1, len(w) - 1),
      |             i -> concat_ws(' ', w[i], w[i + 1], w[i + 2]))
      |      ELSE [] END AS tg
      |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
      |        FROM documents))""".stripMargin) { (s, dir) =>
    // tg is projected ONCE, then referenced — CollapseProject keeps the
    // non-cheap array alive instead of duplicating its construction
    t(s, dir, "documents")
      .select(col("doc_id"), graft.text.TextAnalysis.wordTrigrams(col("text")).as("tg"))
      .select(col("doc_id"),
        size(col("tg")).as("n_trigrams"),
        size(array_distinct(col("tg"))).as("n_unique"))
      .select(col("doc_id"), col("n_trigrams"), col("n_unique"),
        round(when(col("n_trigrams") > 0,
          lit(1.0) - col("n_unique").cast("double") / col("n_trigrams"))
          .otherwise(0.0), 6).as("rep_ratio"))
  }

  /** BM25 top-k retrieval (TextSearch.bm25TopK) — the lexical twin of the
    * ANN surface: inverted index shuffled once on term, broadcast query
    * terms, stopword DF cap before the postings join, per-(query, doc)
    * score as a term-ordered fold the oracle replays bit-for-bit.
    * Queries are docs 0–4's first 8 words; the testdata vocabulary is
    * tiny (31 terms, median df 0.78·N), so the cap here is 0.8 — the
    * library default 0.5 would blank every query on THIS corpus (the
    * cap's filtering behavior itself is locked by TextSearchSpec).
    */
  /** The x14 BM25 CTE chain (d … agg: per-(query, doc) scores for docs
    * 0–4's first-8-word queries) — shared verbatim with the x23 hybrid
    * fusion oracle so the two lexical rankings can never drift.
    */
  private def bm25AggCtes: String =
    """d AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
      |           FROM documents),
      |dl AS (SELECT doc_id, len(w) AS dl FROM d),
      |stats AS (SELECT count(*) AS n_docs,
      |  CAST(sum(CAST(CAST(len(w) AS DOUBLE) AS DECIMAL(30,10))) AS DOUBLE) / count(*) AS avgdl
      |  FROM d),
      |tf AS (SELECT doc_id, term, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(w) AS term FROM d) GROUP BY doc_id, term),
      |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |terms AS (SELECT term, ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) AS idf, avgdl
      |  FROM dfreq, stats WHERE CAST(df AS DOUBLE) <= 0.8 * n_docs),
      |q AS (SELECT doc_id AS query_id, unnest(list_distinct(w[1:8])) AS term
      |      FROM d WHERE doc_id < 5),
      |scored AS (SELECT q.query_id, tf.doc_id, tf.term,
      |    terms.idf * (tf.tf * (1.2 + 1)) /
      |      (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / terms.avgdl)) AS s
      |  FROM tf JOIN q USING (term) JOIN terms USING (term)
      |  JOIN dl ON dl.doc_id = tf.doc_id),
      |agg AS (SELECT query_id, doc_id,
      |    list_reduce(list_prepend(0.0, list(s ORDER BY term)), (a, b) -> a + b) AS score
      |  FROM scored GROUP BY query_id, doc_id)""".stripMargin

  val bm25: Q = Q(
    "x14_bm25_topk",
    s"""WITH $bm25AggCtes
      |SELECT query_id, doc_id, round(score, 6) AS score, CAST(rn AS INT) AS rank
      |FROM (SELECT query_id, doc_id, score,
      |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
      |      FROM agg)
      |WHERE rn <= 5""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val queries = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"),
        slice(filter(split(col("text"), " "), t => t =!= ""), 1, 8).as("terms"))
    graft.text.TextSearch.bm25TopK(docs, queries, k = 5, maxDfFraction = 0.8)
      .select(col("query_id"), col("doc_id"), round(col("score"), 6).as("score"),
        col("rank"))
  }

  /** All-pairs tf-idf cosine similarity (TextSearch.cosinePairs) over
    * the d-series planted-dup corpus: term-keyed inverted-index
    * self-join with an absolute df cap, ln-free idf weights, and
    * term-ordered fold sums the oracle replays bit-for-bit. The planted
    * `xx `-prefixed copies score cosine ≈ 1; token-disjoint docs never
    * pair.
    */
  val cosinePairs: Q = {
    val maxDf = 50
    Q(
      "x39_cosine_pairs",
      s"""WITH corpus AS ($corpusSql),
         |tf AS (SELECT doc_id, term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
         |        FROM corpus)
         |  GROUP BY doc_id, term),
         |nn AS (SELECT count(*) AS n_docs FROM corpus),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term HAVING count(*) <= $maxDf),
         |w AS (SELECT doc_id, term, CAST(tf AS DOUBLE) * (n_docs + 1) / (df + 1) AS w
         |      FROM tf JOIN dfreq USING (term), nn),
         |norms AS (SELECT doc_id,
         |    sqrt(list_reduce(list_prepend(0.0, list(w * w ORDER BY term)), (a, b) -> a + b)) AS nrm
         |  FROM w GROUP BY doc_id),
         |dots AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2,
         |    list_reduce(list_prepend(0.0, list(a.w * b.w ORDER BY a.term)), (x, y) -> x + y) AS dot
         |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT doc1, doc2, round(dot / (na.nrm * nb.nrm), 6) AS cosine
         |FROM dots
         |JOIN norms na ON doc1 = na.doc_id
         |JOIN norms nb ON doc2 = nb.doc_id
         |WHERE dot / (na.nrm * nb.nrm) >= 0.5""".stripMargin) { (s, dir) =>
      graft.text.TextSearch.cosinePairs(corpus(s, dir), minCos = 0.5, maxDf = maxDf)
        .select(col("doc1"), col("doc2"), round(col("cosine"), 6).as("cosine"))
    }
  }

  /** Hybrid retrieval via reciprocal-rank fusion (TextSearch.rrfFuse):
    * the BM25 ranking (x14's exact CTE chain, k=20) and a brute-force
    * cosine ranking over the embeddings table (v1's formulation, k=20)
    * fuse as Σ 1/(60 + rank) per list, top-5 per query. Queries are docs
    * 0–4 on the lexical side and the aligned vec_ids 0–4 on the vector
    * side. Absent ranks encode as 0 (a real rank is >= 1) so the result
    * stays NULL-free for the hash compare. The RRF sum is a fixed
    * two-term left-to-right chain on both engines.
    */
  val hybridRrf: Q = Q(
    "x23_rrf_fusion",
    s"""WITH $bm25AggCtes,
      |lex AS (SELECT query_id, doc_id, CAST(rn AS INT) AS lex_rank
      |  FROM (SELECT query_id, doc_id,
      |        row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
      |        FROM agg)
      |  WHERE rn <= 20),
      |qv AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
      |       FROM embeddings WHERE vec_id < 5),
      |cv AS (SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS ne FROM embeddings),
      |vec AS (SELECT query_id, doc_id, CAST(rn AS INT) AS vec_rank
      |  FROM (SELECT query_id, doc_id,
      |        row_number() OVER (PARTITION BY query_id
      |                           ORDER BY list_cosine_similarity(qe, ne) DESC, doc_id) AS rn
      |        FROM qv CROSS JOIN cv WHERE query_id <> doc_id)
      |  WHERE rn <= 20),
      |fused AS (SELECT coalesce(l.query_id, v.query_id) AS query_id,
      |    coalesce(l.doc_id, v.doc_id) AS doc_id,
      |    coalesce(l.lex_rank, 0) AS lex_rank, coalesce(v.vec_rank, 0) AS vec_rank,
      |    coalesce(CAST(1.0 AS DOUBLE) / (60 + l.lex_rank), 0.0) +
      |    coalesce(CAST(1.0 AS DOUBLE) / (60 + v.vec_rank), 0.0) AS rrf
      |  FROM lex l FULL JOIN vec v ON l.query_id = v.query_id AND l.doc_id = v.doc_id)
      |SELECT query_id, doc_id, lex_rank, vec_rank, round(rrf, 9) AS rrf,
      |  CAST(rn AS INT) AS rank
      |FROM (SELECT query_id, doc_id, lex_rank, vec_rank, rrf,
      |      row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rn
      |      FROM fused)
      |WHERE rn <= 5""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val queries = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"),
        slice(filter(split(col("text"), " "), w => w =!= ""), 1, 8).as("terms"))
    val lex = graft.text.TextSearch.bm25TopK(docs, queries, k = 20, maxDfFraction = 0.8)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val e = t(s, dir, "embeddings")
    val vec = graft.ann.Ann.bruteForceKnn(e, e.filter(col("vec_id") < 5), k = 20)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    graft.text.TextSearch.rrfFuse(lex, vec, k = 5)
      .select(col("query_id"), col("doc_id"), col("lex_rank"), col("vec_rank"),
        round(col("rrf"), 9).as("rrf"), col("rank"))
  }

  /** PII scrubbing (TextAnalysis.redactPii): the testdata corpus carries
    * no PII, so every 7th doc gets a deterministic planted email + long
    * number IN THE QUERY (identically on both engines) — the redactor
    * must find exactly those and leave other docs untouched. The cleaned
    * text is compared by md5 so the result stays scalar-typed.
    */
  val piiRedact: Q = Q(
    "x15_pii_redact",
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(planted, '${TextAnalysis.emailPattern}')) AS INT) AS n_emails,
       |  CAST(len(regexp_extract_all(planted, '${TextAnalysis.longNumberPattern}')) AS INT) AS n_numbers,
       |  md5(regexp_replace(
       |        regexp_replace(planted, '${TextAnalysis.emailPattern}', '[EMAIL]', 'g'),
       |        '${TextAnalysis.longNumberPattern}', '[NUM]', 'g')) AS clean_md5
       |FROM (SELECT doc_id,
       |        CASE WHEN doc_id % 7 = 0
       |          THEN text || ' contact user' || CAST(doc_id AS VARCHAR) ||
       |               '@example.com or ref 1234567890'
       |          ELSE text END AS planted
       |      FROM documents)""".stripMargin) { (s, dir) =>
    val planted = when(col("doc_id") % 7 === 0,
      concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or ref 1234567890")))
      .otherwise(col("text"))
    t(s, dir, "documents")
      .select(col("doc_id"), planted.as("planted"))
      .select(col("doc_id"),
        TextAnalysis.emailCount(col("planted")).as("n_emails"),
        TextAnalysis.longNumberCount(col("planted")).as("n_numbers"),
        md5(TextAnalysis.redactPii(col("planted"))).as("clean_md5"))
  }

  /** Gopher-style repetition fractions (TextQuality.gopherStats): top
    * unigram/bigram word-fraction via the canonical word-count shuffle,
    * duplicate-5-gram fraction map-side. Fractions are single IEEE
    * divisions of exact integers, so both engines produce bit-identical
    * doubles.
    */
  val gopherStats: Q = Q(
    "x20_gopher_repetition",
    """WITH words AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
      |  FROM documents),
      |uni AS (
      |  SELECT doc_id, CAST(max(cnt) AS DOUBLE) / sum(cnt) AS top_unigram_frac
      |  FROM (SELECT doc_id, g, count(*) AS cnt
      |        FROM (SELECT doc_id, unnest(w) AS g FROM words) GROUP BY doc_id, g)
      |  GROUP BY doc_id),
      |bi AS (
      |  SELECT doc_id, CAST(max(cnt) AS DOUBLE) / sum(cnt) AS top_bigram_frac
      |  FROM (SELECT doc_id, g, count(*) AS cnt
      |        FROM (SELECT doc_id, array_to_string(w[i:i+1], ' ') AS g
      |              FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
      |                    FROM words WHERE len(w) >= 2))
      |        GROUP BY doc_id, g)
      |  GROUP BY doc_id),
      |five AS (
      |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
      |    CASE WHEN len(g5) > 0
      |         THEN 1.0 - CAST(len(list_distinct(g5)) AS DOUBLE) / len(g5)
      |         ELSE 0.0 END AS dup_5gram_frac
      |  FROM (SELECT doc_id, w,
      |          list_transform(range(1, len(w) - 3),
      |            i -> array_to_string(w[i:i+4], ' ')) AS g5
      |        FROM words))
      |SELECT doc_id, n_words, dup_5gram_frac,
      |  COALESCE(top_unigram_frac, 0.0) AS top_unigram_frac,
      |  COALESCE(top_bigram_frac, 0.0) AS top_bigram_frac
      |FROM five LEFT JOIN uni USING (doc_id) LEFT JOIN bi USING (doc_id)""".stripMargin) {
    (s, dir) =>
      graft.text.TextQuality.gopherStats(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_words"), col("dup_5gram_frac"),
          col("top_unigram_frac"), col("top_bigram_frac"))
  }

  /** Winnowed k-gram fingerprints (TextQuality.winnowedFingerprints,
    * k=8, window=4): md5 every word 8-gram, keep each 4-window's
    * lexicographic minimum, distinct per doc — all map-side. The oracle
    * replays gram construction, hashing and the sliding window min with
    * list lambdas over the identical md5-hex strings.
    */
  val winnowedFps: Q = Q(
    "x21_winnowed_fingerprints",
    """WITH words AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |    list_transform(range(1, len(w) - 6),
      |      i -> md5(array_to_string(w[i:i+7], ' '))) AS g
      |  FROM words WHERE len(w) >= 8)
      |SELECT doc_id,
      |  unnest(list_distinct(list_transform(range(1, greatest(len(g) - 3, 1) + 1),
      |    i -> list_aggregate(g[i:i+3], 'min')))) AS fp
      |FROM grams""".stripMargin) { (s, dir) =>
    graft.text.TextQuality.winnowedFingerprints(t(s, dir, "documents"))
  }

  /** Verbatim span-overlap pairs (TextQuality.overlapPairs over the
    * planted-near-dup corpus): docs sharing ≥ 2 winnowed fingerprints
    * through a DF-capped inverted index — same candidate discipline as
    * d5, for the contamination / shared-passage case. The planted
    * near-dups share every fingerprint past the prepended token, so the
    * result is non-trivial at every scale factor.
    */
  val spanOverlap: Q = Q(
    "x22_span_overlap_pairs",
    s"""WITH corpus AS ($corpusSql),
       |words AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
       |  FROM corpus),
       |grams AS (
       |  SELECT doc_id,
       |    list_transform(range(1, len(w) - 6),
       |      i -> md5(array_to_string(w[i:i+7], ' '))) AS g
       |  FROM words WHERE len(w) >= 8),
       |fps AS (
       |  SELECT doc_id,
       |    unnest(list_distinct(list_transform(range(1, greatest(len(g) - 3, 1) + 1),
       |      i -> list_aggregate(g[i:i+3], 'min')))) AS fp
       |  FROM grams),
       |idx AS (
       |  SELECT doc_id, fp FROM (
       |    SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM fps)
       |  WHERE df <= 100)
       |SELECT a.doc_id AS doc1, b.doc_id AS doc2, CAST(count(*) AS BIGINT) AS n_shared
       |FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin) { (s, dir) =>
    graft.text.TextQuality.overlapPairs(
      graft.text.TextQuality.winnowedFingerprints(corpus(s, dir)),
      minShared = 2, maxFpDf = 100)
  }

  /** x41/d22's messy URL of each doc_id on site `k`: four rotating
    * shapes (case, default ports, tracking and unsorted query params,
    * fragments), three doc_ids per page.
    */
  private def messyUrl(k: Column): Column = {
    val page = floor(col("doc_id") / 3).cast("string")
    when(col("doc_id") % 4 === 0,
        concat(lit("HTTPS://Site"), k, lit(".Example.COM:443/doc/"), page,
          lit("?utm_source=feed&b=2&a=1#frag")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("http://site"), k, lit(".example.com:80/doc/"), page,
          lit("?a=1&b=2&fbclid=x"), col("doc_id").cast("string")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("https://site"), k, lit(".example.com/doc/"), page,
          lit("?b=2&a=1")))
      .otherwise(
        concat(lit("https://SITE"), k, lit(".Example.com/doc/"), page,
          lit("#sec")))
  }

  /** URL canonicalization + URL-level dedup (UrlOps.canonicalizeUrl):
    * deterministic messy URL variants are synthesized from doc_id
    * (mixed-case scheme/host, default ports, tracking params, unsorted
    * query params, fragments — four rotating shapes, three doc_ids per
    * page so the dedup is non-trivial), canonicalized map-side with
    * builtin functions only, and grouped by canonical form. The oracle
    * re-implements the canonicalization generically in DuckDB
    * (regexp part-split + list_filter/list_sort), NOT by regenerating
    * the clean form — so the check is a true cross-engine replay of the
    * normalization semantics.
    */
  val urlCanonical: Q = Q(
    "x41_url_canonical",
    """WITH raw AS (
      |  SELECT doc_id,
      |    CASE CAST(doc_id % 4 AS INTEGER)
      |      WHEN 0 THEN 'HTTPS://Site' || CAST(doc_id % 23 AS VARCHAR) || '.Example.COM:443/doc/' ||
      |        CAST(doc_id // 3 AS VARCHAR) || '?utm_source=feed&b=2&a=1#frag'
      |      WHEN 1 THEN 'http://site' || CAST(doc_id % 23 AS VARCHAR) || '.example.com:80/doc/' ||
      |        CAST(doc_id // 3 AS VARCHAR) || '?a=1&b=2&fbclid=x' || CAST(doc_id AS VARCHAR)
      |      WHEN 2 THEN 'https://site' || CAST(doc_id % 23 AS VARCHAR) || '.example.com/doc/' ||
      |        CAST(doc_id // 3 AS VARCHAR) || '?b=2&a=1'
      |      ELSE 'https://SITE' || CAST(doc_id % 23 AS VARCHAR) || '.Example.com/doc/' ||
      |        CAST(doc_id // 3 AS VARCHAR) || '#sec'
      |    END AS url
      |  FROM documents),
      |parts AS (
      |  SELECT doc_id,
      |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
      |    lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)) AS auth0,
      |    regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path0,
      |    CASE WHEN url LIKE '%?%' THEN regexp_extract(url, '\?([^#]*)', 1) END AS q0
      |  FROM raw),
      |kept AS (
      |  SELECT doc_id, scheme, auth0, path0,
      |    list_filter(string_split(q0, '&'),
      |      p -> p <> '' AND NOT regexp_matches(p,
      |        '^(utm_[^=]*|fbclid|gclid|msclkid|ref|ref_src)(=.*)?$')) AS ps
      |  FROM parts),
      |canon AS (
      |  SELECT doc_id,
      |    scheme || '://' ||
      |    (CASE WHEN scheme = 'http' THEN regexp_replace(auth0, ':80$', '')
      |          WHEN scheme = 'https' THEN regexp_replace(auth0, ':443$', '')
      |          ELSE auth0 END) ||
      |    (CASE WHEN path0 IS NULL OR path0 = '' THEN '/' ELSE path0 END) ||
      |    (CASE WHEN ps IS NULL OR len(ps) = 0 THEN ''
      |          ELSE '?' || array_to_string(list_sort(ps), '&') END) AS canon_url
      |  FROM kept)
      |SELECT canon_url, CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS first_doc
      |FROM canon GROUP BY 1""".stripMargin) { (s, dir) =>
    val url = messyUrl((col("doc_id") % 23).cast("string"))
    t(s, dir, "documents")
      .select(col("doc_id"), url.as("url"))
      .select(col("doc_id"), graft.text.UrlOps.canonicalizeUrl(col("url")).as("canon_url"))
      .groupBy(col("canon_url"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
  }

  /** Gopher quality gates (TextQuality.gopherQualityGates): the Rae et
    * al. 2021 A1.1 per-document thresholds as auditable booleans. The
    * oracle replays every signal — word/line splits, higher-order
    * folds, symbol counting via replace-length deltas, the stop-word
    * membership count — and the gate conjunction in DuckDB list
    * functions.
    */
  val gopherGates: Q = Q(
    "x42_gopher_gates",
    """WITH base AS (
      |  SELECT doc_id, text,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS w,
      |    list_filter(string_split(text, chr(10)), l -> l <> '') AS lines
      |  FROM documents),
      |m AS (
      |  SELECT doc_id,
      |    CAST(len(w) AS BIGINT) AS n_words,
      |    round(CAST(list_aggregate(list_transform(w, x -> len(x)), 'sum') AS DOUBLE)
      |      / len(w), 6) AS mean_word_len,
      |    round(CAST((len(text) - len(replace(text, '#', ''))) +
      |        (len(text) - len(replace(text, '...', ''))) // 3 AS DOUBLE)
      |      / len(w), 6) AS symbol_ratio,
      |    round(CAST(len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•]'))) AS DOUBLE)
      |      / len(lines), 6) AS bullet_line_frac,
      |    round(CAST(len(list_filter(lines, l -> regexp_matches(l, '\.\.\.$'))) AS DOUBLE)
      |      / len(lines), 6) AS ellipsis_line_frac,
      |    round(CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
      |      / len(w), 6) AS alpha_word_frac,
      |    CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
      |      sw -> list_contains(w, sw))) AS BIGINT) AS n_stop_words
      |  FROM base WHERE len(w) > 0 AND len(lines) > 0)
      |SELECT *,
      |  (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
      |   AND symbol_ratio <= 0.1 AND bullet_line_frac <= 0.9
      |   AND ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8
      |   AND n_stop_words >= 2) AS passes
      |FROM m""".stripMargin) { (s, dir) =>
    graft.text.TextQuality.gopherQualityGates(t(s, dir, "documents"))
  }

  /** HTML → text extraction (HtmlExtract.htmlToText/htmlTitle/
    * linkCount): each document's text is entity-escaped and wrapped in
    * a deterministic HTML shell — title in head, a style block with a
    * `>` selector, a script emitting literal markup, a comment, an
    * nbsp-joined heading, and `doc_id % 5` anchors — then stripped back
    * map-side. The oracle does NOT replay the regex chain: it predicts
    * the extracted text analytically ("Doc id Doc id <text> next…",
    * whitespace-collapsed), so a tag-strip bug that leaked script
    * bodies, swallowed prose, or double-decoded entities (`&amp;` is
    * escaped on the way in, so decode order is exercised on every row)
    * breaks the md5 even though both engines agree on regex syntax.
    */
  val htmlExtract: Q = {
    Q(
      "x43_html_extract",
      """WITH p AS (SELECT doc_id,
        |    trim(regexp_replace('Doc ' || doc_id || ' Doc ' || doc_id || ' ' || text ||
        |      repeat(' next', CAST(doc_id % 5 AS INT)), '\s+', ' ', 'g')) AS cleaned
        |  FROM documents)
        |SELECT doc_id, 'Doc ' || doc_id AS title,
        |  CAST(doc_id % 5 AS INT) AS n_links,
        |  CAST(length(cleaned) AS INT) AS text_len,
        |  md5(cleaned) AS text_md5
        |FROM p""".stripMargin) { (s, dir) =>
      import graft.text.HtmlExtract
      val esc = replace(
        replace(
          replace(col("text"), lit("&"), lit("&amp;")),
          lit("<"), lit("&lt;")),
        lit(">"), lit("&gt;"))
      val anchors = array_join(
        array_repeat(lit("<a href=\"http://example.com/n\">next</a>"),
          (col("doc_id") % 5).cast("int")), "")
      val html = t(s, dir, "documents").select(col("doc_id"),
        concat(
          lit("<!DOCTYPE html><html><head><title>Doc "), col("doc_id"),
          lit("</title><style type=\"text/css\">body { color: #fff; }\n.x > .y { margin: 0 }</style>"),
          lit("<script>var n = "), col("doc_id"),
          lit("; if (n > 1) { emit(\"<p>leak</p>\"); }</script></head>"),
          lit("<body><!-- gen "), col("doc_id"), lit(" --><h1>Doc&nbsp;"), col("doc_id"),
          lit("</h1><p>"), esc, lit("</p>"), anchors,
          lit("</body></html>")).as("html"))
      html.select(col("doc_id"),
        HtmlExtract.htmlTitle(col("html")).as("title"),
        HtmlExtract.linkCount(col("html")).as("n_links"),
        length(HtmlExtract.htmlToText(col("html"))).cast("int").as("text_len"),
        md5(HtmlExtract.htmlToText(col("html"))).as("text_md5"))
    }
  }

  /** Link fixture shared by x50/g7: each doc's HTML carries
    * `doc_id % 4` anchors whose targets walk the corpus —
    * `(doc_id·13 + j·7 + 1) mod N` for link j, N the corpus size
    * (a SCALAR broadcast aggregate, never a driver action) — with the
    * quote style alternating by j (double/single) and three decoys the
    * extractor must ignore: a `<link href>` stylesheet, a `<base href>`,
    * and an href-less `<a name>` anchor.
    */
  private[queries] def linkFixtureHtml(docs: DataFrame): DataFrame = {
    val n = broadcast(docs.agg(count(lit(1)).as("nn")))
    val nLinks = (col("doc_id") % 4).cast("int")
    val anchors = array_join(
      transform(
        when(nLinks === 0, array().cast("array<int>"))
          .otherwise(sequence(lit(0), nLinks - 1)),
        j => {
          val href = concat(lit("https://d"),
            (col("doc_id") * 13 + j.cast("long") * 7 + 1) % col("nn"),
            lit(".example.com/p/"), col("doc_id"))
          concat(lit("<a class=\"l\" href="),
            when(j % 2 === 0, concat(lit("\""), href, lit("\"")))
              .otherwise(concat(lit("'"), href, lit("'"))),
            lit(">t</a>"))
        }), "")
    docs.select(col("doc_id")).crossJoin(n)
      .select(col("doc_id"), concat(
        lit("<html><head><title>Doc "), col("doc_id"),
        lit("</title><link rel=\"stylesheet\" href=\"/style.css\">"),
        lit("<base href=\"https://ignore.me/\"></head>"),
        lit("<body><a name=\"top\"></a><p>Doc "), col("doc_id"),
        lit(" body</p>"), anchors, lit("</body></html>")).as("html"))
  }

  /** Outgoing-link extraction (HtmlExtract.links — one codegen'd
    * regexp_extract_all, both quote styles, decoy link/base/name tags
    * ignored): (doc_id, link_no, href) in document order. The oracle
    * predicts the hrefs analytically from the fixture arithmetic — the
    * x43 posture: it checks extraction SEMANTICS, not the regex.
    */
  val htmlLinks: Q = Q(
    "x50_html_links",
    """WITH n AS (SELECT count(*) AS nn FROM documents),
      |j AS (SELECT doc_id, unnest(range(0, CAST(doc_id % 4 AS INT))) AS link_no
      |      FROM documents)
      |SELECT doc_id, CAST(link_no AS INT) AS link_no,
      |  'https://d' || CAST((doc_id*13 + link_no*7 + 1) % (SELECT nn FROM n) AS VARCHAR) ||
      |  '.example.com/p/' || CAST(doc_id AS VARCHAR) AS href
      |FROM j""".stripMargin) { (s, dir) =>
    import graft.text.HtmlExtract
    linkFixtureHtml(t(s, dir, "documents"))
      .select(col("doc_id"),
        posexplode(HtmlExtract.links(col("html"))).as(Seq("link_no", "href")))
      .select(col("doc_id"), col("link_no").cast("int").as("link_no"), col("href"))
  }

  /** Unicode normalization (UnicodeNormalizeExpression — native codegen
    * expression over java.text.Normalizer; Spark has no builtin): five
    * fixture variants exercise the canonical/compatibility split —
    * combining-mark café (NFC composes), precomposed café (already
    * normal), the ﬁ ligature and fullwidth ＡＢＣ and superscript x²
    * (NFC-invariant, NFKC folds). The NFC column is cross-validated
    * against DuckDB's utf8proc `nfc_normalize` — two independent
    * Unicode implementations must agree byte-for-byte — while NFKC
    * (absent in DuckDB) is replayed analytically per variant.
    */
  val unicodeNormalize: Q = Q(
    "x51_unicode_normalize",
    """WITH raw AS (
      |  SELECT doc_id,
      |    CASE CAST(doc_id % 5 AS INT)
      |      WHEN 0 THEN 'cafe' || chr(769) || ' '
      |      WHEN 1 THEN 'caf' || chr(233) || ' '
      |      WHEN 2 THEN chr(64257) || 'le '
      |      WHEN 3 THEN chr(65313) || chr(65314) || chr(65315) || ' '
      |      ELSE 'x' || chr(178) || ' '
      |    END || CAST(doc_id AS VARCHAR) AS t
      |  FROM documents)
      |SELECT doc_id, nfc_normalize(t) AS nfc,
      |  CASE CAST(doc_id % 5 AS INT)
      |    WHEN 0 THEN 'caf' || chr(233) || ' '
      |    WHEN 1 THEN 'caf' || chr(233) || ' '
      |    WHEN 2 THEN 'file '
      |    WHEN 3 THEN 'ABC '
      |    ELSE 'x2 '
      |  END || CAST(doc_id AS VARCHAR) AS nfkc,
      |  (nfc_normalize(t) <> t) AS nfc_changed,
      |  CAST(length(CASE CAST(doc_id % 5 AS INT)
      |    WHEN 0 THEN 'caf' || chr(233) || ' '
      |    WHEN 1 THEN 'caf' || chr(233) || ' '
      |    WHEN 2 THEN 'file '
      |    WHEN 3 THEN 'ABC '
      |    ELSE 'x2 '
      |  END || CAST(doc_id AS VARCHAR)) AS INT) AS nfkc_len
      |FROM raw""".stripMargin) { (s, dir) =>
    import graft.text.UnicodeNormalizeExpression
    // escape sequences, not literal glyphs: a toolchain NFC-normalizing
    // this source file must not be able to merge variants 0 and 1
    val raw = when(col("doc_id") % 5 === 0, lit("cafe\u0301 "))
      .when(col("doc_id") % 5 === 1, lit("caf\u00e9 "))
      .when(col("doc_id") % 5 === 2, lit("\ufb01le "))
      .when(col("doc_id") % 5 === 3, lit("\uff21\uff22\uff23 "))
      .otherwise(lit("x\u00b2 "))
    t(s, dir, "documents")
      .select(col("doc_id"), concat(raw, col("doc_id").cast("string")).as("t"))
      .select(col("doc_id"),
        UnicodeNormalizeExpression(col("t"), "NFC").as("nfc"),
        UnicodeNormalizeExpression(col("t"), "NFKC").as("nfkc"),
        (UnicodeNormalizeExpression(col("t"), "NFC") =!= col("t")).as("nfc_changed"),
        length(UnicodeNormalizeExpression(col("t"), "NFKC")).cast("int").as("nfkc_len"))
  }

  /** Per-document n-gram novelty (TextQuality.ngramNovelty): the
    * fraction of a doc's distinct hashed trigrams with corpus df = 1 —
    * the near-copy corpus makes it non-trivial (a planted copy's
    * shingles all carry df ≥ 2, so its novelty collapses toward the two
    * 'xx'-prefix shingles it alone owns, and it drags its SOURCE doc
    * down with it). Oracle replays hashed shingles, df, and the
    * fraction; ratio rounded to 6 dp (exact — small-integer division).
    */
  val ngramNovelty: Q = Q(
    "x52_ngram_novelty",
    s"""WITH corpus AS ($corpusSql),
       |sh AS (SELECT DISTINCT doc_id, m FROM ($hashedShinglesSql)),
       |df AS (SELECT m, count(*) AS df FROM sh GROUP BY m)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |  round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
       |    AS novelty_ratio
       |FROM sh JOIN df USING (m) GROUP BY doc_id""".stripMargin) { (s, dir) =>
    graft.text.TextQuality.ngramNovelty(corpus(s, dir), n = 3)
  }

  /** CLUSTER-AWARE train/val/test split — the preventive twin of x11's
    * leakage detector: the split hash is keyed on the near-dup CLUSTER
    * canonical (d7's connected components; singletons key on
    * themselves), so every member of a duplicate family lands in the
    * SAME split by construction and eval contamination via near-copies
    * cannot occur. Composition: jaccardPairs → clusters → left join +
    * coalesce → hashSplit on the canonical. The oracle replays d7's
    * recursive reachability, the singleton coalesce, and x6's md5
    * bucket arithmetic over the canonical id.
    */
  val clusterSplit: Q = {
    val maxDf = 50
    Q(
      "x53_cluster_split",
      s"""WITH RECURSIVE corpus AS ($corpusSql),
         |allsh AS (SELECT DISTINCT doc_id, shingle FROM (${shinglesSql.replace("__CORPUS__", "corpus")})),
         |sh AS (
         |  SELECT doc_id, shingle FROM allsh
         |  WHERE shingle IN (SELECT shingle FROM allsh GROUP BY shingle HAVING count(*) <= $maxDf)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id),
         |pairs AS (
         |  SELECT doc1, doc2 FROM inter
         |  JOIN sizes sa ON doc1 = sa.doc_id
         |  JOIN sizes sb ON doc2 = sb.doc_id
         |  WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5),
         |edges AS (SELECT doc1 AS s, doc2 AS d FROM pairs UNION SELECT doc2, doc1 FROM pairs),
         |reach(doc_id, r) AS (
         |  SELECT DISTINCT s, s FROM edges
         |  UNION
         |  SELECT e.d, r.r FROM reach r JOIN edges e ON r.doc_id = e.s),
         |clus AS (SELECT doc_id, min(r) AS canonical_id FROM reach GROUP BY doc_id),
         |canon AS (
         |  SELECT c.doc_id, coalesce(cl.canonical_id, c.doc_id) AS canonical_id
         |  FROM corpus c LEFT JOIN clus cl ON c.doc_id = cl.doc_id)
         |SELECT doc_id, canonical_id,
         |  CASE WHEN ${bucketSql("canonical_id")} < 80 THEN 'train'
         |       WHEN ${bucketSql("canonical_id")} < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM canon""".stripMargin) { (s, dir) =>
      val c = corpus(s, dir)
      val clusters = Dedup.clusters(
        Dedup.jaccardPairs(c, minJaccard = 0.5, maxShingleDf = maxDf))
      val canon = c.select(col("doc_id"))
        .join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("canonical_id"), col("doc_id")).as("canonical_id"))
      graft.dedup.Sampling.hashSplit(canon, "canonical_id")
        .select(col("doc_id"), col("canonical_id"), col("split"))
    }
  }

  /** Cross-snapshot URL dedup (CrawlSnapshots.latestWins): three
    * fetches per page — ids 3p, 3p+1, 3p+2 carry x41's URL-variant
    * forms over a host keyed on the PAGE (so variants 0–2 canonicalize
    * together; the fragment-only variant 3 lands on the query-less
    * canonical) — with fetch_ts = doc_id and content re-used so the
    * middle fetch repeats the first's payload (content id
    * `doc_id − id%3 + id%3 // 2`). Latest-wins must pick the highest
    * ts, count fetches and distinct versions, and flag change against
    * the SECOND-latest fetch; the oracle replays canonicalization (the
    * x41 chain), the (ts DESC, hash) window, and the rollup.
    */
  val urlSnapshotDedup: Q = Q(
    "d22_url_snapshot_dedup",
    """WITH raw AS (
      |  SELECT doc_id,
      |    CASE CAST(doc_id % 4 AS INTEGER)
      |      WHEN 0 THEN 'HTTPS://Site' || CAST((doc_id // 3) % 23 AS VARCHAR) || '.Example.COM:443/doc/' ||
      |        CAST(doc_id // 3 AS VARCHAR) || '?utm_source=feed&b=2&a=1#frag'
      |      WHEN 1 THEN 'http://site' || CAST((doc_id // 3) % 23 AS VARCHAR) || '.example.com:80/doc/' ||
      |        CAST(doc_id // 3 AS VARCHAR) || '?a=1&b=2&fbclid=x' || CAST(doc_id AS VARCHAR)
      |      WHEN 2 THEN 'https://site' || CAST((doc_id // 3) % 23 AS VARCHAR) || '.example.com/doc/' ||
      |        CAST(doc_id // 3 AS VARCHAR) || '?b=2&a=1'
      |      ELSE 'https://SITE' || CAST((doc_id // 3) % 23 AS VARCHAR) || '.Example.com/doc/' ||
      |        CAST(doc_id // 3 AS VARCHAR) || '#sec'
      |    END AS url,
      |    doc_id AS ts,
      |    doc_id - (doc_id % 3) + (doc_id % 3) // 2 AS cid
      |  FROM documents),
      |c AS (
      |  SELECT r.url, r.ts, md5(d.text) AS h
      |  FROM raw r JOIN documents d ON d.doc_id = r.cid),
      |parts AS (
      |  SELECT url, ts, h,
      |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
      |    lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)) AS auth0,
      |    regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path0,
      |    CASE WHEN url LIKE '%?%' THEN regexp_extract(url, '\?([^#]*)', 1) END AS q0
      |  FROM c),
      |kept AS (
      |  SELECT ts, h, scheme, auth0, path0,
      |    list_filter(string_split(q0, '&'),
      |      p -> p <> '' AND NOT regexp_matches(p,
      |        '^(utm_[^=]*|fbclid|gclid|msclkid|ref|ref_src)(=.*)?$')) AS ps
      |  FROM parts),
      |canon AS (
      |  SELECT ts, h,
      |    scheme || '://' ||
      |    (CASE WHEN scheme = 'http' THEN regexp_replace(auth0, ':80$', '')
      |          WHEN scheme = 'https' THEN regexp_replace(auth0, ':443$', '')
      |          ELSE auth0 END) ||
      |    (CASE WHEN path0 IS NULL OR path0 = '' THEN '/' ELSE path0 END) ||
      |    (CASE WHEN ps IS NULL OR len(ps) = 0 THEN ''
      |          ELSE '?' || array_to_string(list_sort(ps), '&') END) AS canonical_url
      |  FROM kept),
      |rn AS (
      |  SELECT canonical_url, ts, h,
      |    row_number() OVER (PARTITION BY canonical_url ORDER BY ts DESC, h) AS rn
      |  FROM canon)
      |SELECT canonical_url,
      |  CAST(max(CASE WHEN rn = 1 THEN ts END) AS BIGINT) AS latest_ts,
      |  max(CASE WHEN rn = 1 THEN h END) AS latest_hash,
      |  CAST(count(*) AS BIGINT) AS n_fetches,
      |  CAST(count(DISTINCT h) AS BIGINT) AS n_versions,
      |  (max(CASE WHEN rn = 2 THEN h END) IS NOT NULL AND
      |   max(CASE WHEN rn = 2 THEN h END) <> max(CASE WHEN rn = 1 THEN h END)) AS changed_last
      |FROM rn GROUP BY 1""".stripMargin) { (s, dir) =>
    val url = messyUrl((floor(col("doc_id") / 3) % 23).cast("string"))
    val docs = t(s, dir, "documents")
    val fetches = docs
      .select(url.as("url"), col("doc_id").as("fetch_ts"),
        (col("doc_id") - col("doc_id") % 3 +
          floor((col("doc_id") % 3) / 2).cast("long")).as("cid"))
      .join(docs.select(col("doc_id").as("cid"), col("text").as("content")), "cid")
    graft.pipelines.CrawlSnapshots.latestWins(fetches)
  }

  /** Corpus snapshot diff (CorpusDiff.diff): the after-version drops
    * every 13th doc, rewrites every 7th, and adds a fresh doc per 10th
    * id — the oracle replays the mutation rules as a CASE (removed wins
    * over changed when both divide, because a dropped doc's content
    * never gets compared). Content equality travels as md5 hashes
    * through one full-outer join; text never shuffles.
    */
  val corpusDiff: Q = Q(
    "x44_corpus_diff",
    """SELECT doc_id,
      |  CASE WHEN doc_id % 13 = 0 THEN 'removed'
      |       WHEN doc_id % 7 = 0 THEN 'changed'
      |       ELSE 'same' END AS status
      |FROM documents
      |UNION ALL
      |SELECT doc_id + 1000000 AS doc_id, 'added' AS status
      |FROM documents WHERE doc_id % 10 = 0""".stripMargin) { (s, dir) =>
    val before = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val after = before
      .filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .unionByName(before.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    graft.pipelines.CorpusDiff.diff(before, after)
  }

  /** EXACT Jaccard-threshold self-join via prefix filtering
    * (SimilarityJoin.prefixJaccardPairsOver, the Bayardo–Ma–Srikant
    * AllPairs bound): every pair with 3-gram-shingle-set Jaccard ≥ 0.5,
    * candidates generated only from each doc's rare-first prefix —
    * d5's universe with NO df cap and no recall caveat; the claim is
    * exactness. The oracle computes ground truth with an uncapped
    * inverted-index join, so a prefix one token too short (the
    * float-ceil recall trap the scaladoc warns about) surfaces as a
    * missing row, not a silent recall loss. Shingle sets (not word
    * sets) because the synthetic corpus shares one small vocabulary:
    * word-set Jaccard ≥ 0.5 holds for ~2/3 of ALL doc pairs — a
    * threshold join over that universe is quadratic by construction,
    * no algorithm can save it, and picking the discriminative universe
    * is part of the operator's contract.
    */
  val prefixJaccard: Q = Q(
    "d14_prefix_jaccard",
    s"""WITH corpus AS ($corpusSql),
       |w AS (SELECT DISTINCT doc_id, shingle AS tok
       |      FROM (${shinglesSql.replace("__CORPUS__", "corpus")})),
       |sizes AS (SELECT doc_id, count(*) AS n FROM w GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_inter
       |  FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT doc1, doc2,
       |  round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6) AS jaccard
       |FROM inter
       |JOIN sizes sa ON doc1 = sa.doc_id
       |JOIN sizes sb ON doc2 = sb.doc_id
       |WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5""".stripMargin) {
    (s, dir) =>
      val sh = Dedup.shingles(corpus(s, dir))
        .select(col("doc_id"), col("shingle").as("tok")).distinct()
      graft.dedup.SimilarityJoin.prefixJaccardPairsOver(sh, minJaccard = 0.5)
        .select(col("doc1"), col("doc2"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** EXACT Levenshtein ≤ 1 self-join via the FastSS/SymSpell deletion
    * neighborhood (SimilarityJoin.editDistancePairs) over supplier
    * names — the entity-resolution join (off-by-one ids, typo'd names).
    * The oracle is the naive N² levenshtein join, safe at oracle scale;
    * agreement proves the deletion-neighborhood blocking loses no pair
    * (the FastSS k=1 completeness theorem) and that both engines'
    * levenshtein agree on unit costs.
    */
  val editDistPairs: Q = Q(
    "d15_editdist_pairs",
    """SELECT a.s_suppkey AS id1, b.s_suppkey AS id2,
      |  CAST(levenshtein(a.s_name, b.s_name) AS INT) AS dist
      |FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
      |WHERE levenshtein(a.s_name, b.s_name) <= 1""".stripMargin) { (s, dir) =>
    graft.dedup.SimilarityJoin.editDistancePairs(
      t(s, dir, "supplier"), strCol = "s_name", idCol = "s_suppkey")
  }

  /** Corpus-trained bigram-LM cross-entropy per document
    * (LangModel.crossEntropy) — the CCNet perplexity-filter signal,
    * with the KenLM replaced by an interpolated bigram model trained
    * relationally on the corpus itself. The oracle replays the exact
    * model: unigram/bigram counts, lambda-interpolated probability,
    * first token scored by the unigram term, -avg(log2 p) rounded to
    * 6 dp.
    */
  val ngramPerplexity: Q = Q(
    "x31_ngram_perplexity",
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |bg AS (
      |  SELECT doc_id, w[i] AS w1, w[i+1] AS w2
      |  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM w)),
      |tok AS (
      |  SELECT doc_id, w1 AS word FROM bg
      |  UNION ALL SELECT doc_id, w[len(w)] AS word FROM w),
      |uni AS (SELECT word, CAST(count(*) AS DOUBLE) AS c1 FROM tok GROUP BY 1),
      |tot AS (SELECT sum(c1) AS t FROM uni),
      |bic AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c2 FROM bg GROUP BY 1, 2),
      |lp AS (
      |  SELECT f.doc_id, log2(u.c1 / tot.t) AS logp
      |  FROM (SELECT doc_id, w[1] AS word FROM w) f
      |  JOIN uni u USING (word), tot
      |  UNION ALL
      |  SELECT b.doc_id,
      |    log2(0.7 * bc.c2 / up.c1 + 0.3 * uc.c1 / tot.t) AS logp
      |  FROM bg b
      |  JOIN bic bc USING (w1, w2)
      |  JOIN uni up ON up.word = b.w1
      |  JOIN uni uc ON uc.word = b.w2, tot)
      |SELECT doc_id, count(*) AS n_tokens, round(-avg(logp), 6) AS h_bits
      |FROM lp GROUP BY 1""".stripMargin) { (s, dir) =>
    graft.text.LangModel.crossEntropy(t(s, dir, "documents"))
  }

  /** DSIR importance log-weights (LangModel.dsirLogWeights): hashed
    * word-bigram likelihood ratio of a target-domain subset (here the
    * deterministic doc_id % 7 exemplars) against the raw corpus, add-1
    * smoothed over 256 buckets. The oracle replays the md5-nibble
    * bucket (the x6 arithmetic on the bigram string), both
    * distributions, and the per-doc summed log2 ratio.
    */
  val dsirWeights: Q = {
    def nib(k: Int) =
      s"(strpos('0123456789abcdef', substr(md5(g), ${k + 1}, 1)) - 1)"
    Q(
      "x32_dsir_weights",
      s"""WITH w AS (
         |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |  WHERE len(string_split(text, ' ')) >= 2),
         |f AS (
         |  SELECT doc_id, doc_id % 7 = 0 AS is_t,
         |    ((${nib(0)} * 4096 + ${nib(1)} * 256 + ${nib(2)} * 16 + ${nib(3)}) % 256) AS b
         |  FROM (SELECT doc_id, w[i] || ' ' || w[i+1] AS g
         |        FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM w))),
         |c AS (
         |  SELECT b, CAST(count(*) AS DOUBLE) AS cr,
         |    CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS DOUBLE) AS ct
         |  FROM f GROUP BY 1),
         |tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM c),
         |r AS (
         |  SELECT b, log2((ct + 1) / (nt + 256)) - log2((cr + 1) / (nr + 256)) AS lr
         |  FROM c, tot)
         |SELECT doc_id, count(*) AS n_feats, round(sum(lr), 6) AS log_w
         |FROM f JOIN r USING (b) GROUP BY 1""".stripMargin) { (s, dir) =>
      graft.text.LangModel.dsirLogWeights(
        t(s, dir, "documents"), col("doc_id") % 7 === 0)
    }
  }

  /** Fixed-k weighted sampling without replacement
    * (Sampling.weightedSample): Efraimidis–Spirakis selection with
    * integer weights realized as min-of-w md5 uniforms — pure hex
    * string comparison, so the selected SET (not just scores) is
    * bit-identical cross-engine with no libm anywhere. Weights are
    * length-derived priority buckets (1 + n_words/10 capped at 5),
    * strata are doc_id % 3 shards, k = 5 winners per stratum.
    */
  val weightedSample: Q = Q(
    "x34_weighted_sample",
    """WITH base AS (
      |  SELECT doc_id, doc_id % 3 AS shard,
      |    least(1 + len(list_filter(string_split(text, ' '), t -> t <> '')) // 10, 5) AS w
      |  FROM documents),
      |keyed AS (
      |  SELECT *, list_min(list_transform(range(1, w + 1),
      |                     j -> md5(doc_id || ':' || j))) AS es_key
      |  FROM base),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY shard
      |                               ORDER BY es_key, doc_id) AS rn
      |  FROM keyed)
      |SELECT doc_id, shard, CAST(w AS INT) AS w, es_key
      |FROM ranked WHERE rn <= 5""".stripMargin) { (s, dir) =>
    val base = t(s, dir, "documents").select(
      col("doc_id"),
      (col("doc_id") % 3).as("shard"),
      least(lit(1) + (graft.text.TextAnalysis.wordCount(col("text")) / lit(10)).cast("int"),
        lit(5)).as("w"))
    graft.dedup.Sampling.weightedSample(base, "doc_id", "shard", col("w"), k = 5)
  }

  /** Cross-document boilerplate removal (TextQuality.removeBoilerplate) —
    * the CCNet line-level dedup stage. The natural corpus has no
    * repeated sentences (max cross-doc sentence df is 1 in the
    * testdata), so the query plants three boilerplate sentences
    * relationally on BOTH engines: two above the df threshold (every
    * 3rd / every 4th doc) that must be stripped from every document,
    * and one rare plant (every 97th doc, df ≤ maxDf at every SF in use)
    * that must SURVIVE — the boundary the threshold semantics turn on.
    * Plants are '.'-prefixed so they split off cleanly whatever the
    * original text ends with. The md5 of the kept-sentence join proves
    * exact reconstruction order, not just counts.
    */
  val boilerplateRemoval: Q = {
    val plant =
      """(CASE WHEN doc_id % 3 = 0
        |      THEN '. Subscribe to our newsletter. All rights reserved.' ELSE '' END) ||
        |  (CASE WHEN doc_id % 4 = 0
        |      THEN '. Click here to continue reading.' ELSE '' END) ||
        |  (CASE WHEN doc_id % 97 = 0
        |      THEN '. Rare piece of boilerplate.' ELSE '' END)""".stripMargin
    Q(
      "x33_boilerplate_removal",
      s"""WITH aug AS (SELECT doc_id, text || $plant AS text FROM documents),
         |s AS (SELECT doc_id,
         |  list_filter(list_transform(string_split_regex(text, '[.!?]+'), x -> trim(x)),
         |              x -> length(x) > 0) AS sents FROM aug),
         |e AS (SELECT DISTINCT doc_id, sent
         |      FROM (SELECT doc_id, unnest(sents) AS sent FROM s)),
         |hot AS (SELECT sent FROM e GROUP BY sent HAVING count(*) > 10),
         |ex AS (SELECT doc_id, unnest(sents) AS sent,
         |             generate_subscripts(sents, 1) AS pos FROM s),
         |kept AS (SELECT doc_id, sent, pos FROM ex
         |         WHERE sent NOT IN (SELECT sent FROM hot)),
         |agg AS (SELECT doc_id, count(*) AS n_kept,
         |        string_agg(sent, ' ' ORDER BY pos) AS cleaned
         |        FROM kept GROUP BY doc_id)
         |SELECT s.doc_id, CAST(len(s.sents) AS INT) AS n_sents,
         |  CAST(coalesce(agg.n_kept, 0) AS INT) AS n_kept,
         |  md5(coalesce(agg.cleaned, '')) AS clean_md5
         |FROM s LEFT JOIN agg ON s.doc_id = agg.doc_id""".stripMargin) { (s, dir) =>
      val aug = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            lit(". Subscribe to our newsletter. All rights reserved.")).otherwise(lit("")),
          when(col("doc_id") % 4 === 0,
            lit(". Click here to continue reading.")).otherwise(lit("")),
          when(col("doc_id") % 97 === 0,
            lit(". Rare piece of boilerplate.")).otherwise(lit(""))).as("text"))
      graft.text.TextQuality.removeBoilerplate(aug, maxDf = 10)
    }
  }

  /** Sketch-pruned exact heavy hitters (Sketches.heavyHitters): frequent
    * n-grams — keys taking ≥ 1/128 of the mixed 1-gram + 3-gram stream
    * (the frequent-n-gram inventory boilerplate/quality filters consume;
    * at sf0.01 that's 30 heavy unigrams over a ~16k-key trigram tail).
    * The count-min row upper-bounds every key's count, so the map-side
    * prune (estimate·128 ≥ total) never drops a true heavy hitter; the
    * exact count pass then removes the sketch's false positives — output
    * is exact and all threshold arithmetic is integral, which is what
    * the plain GROUP BY/HAVING oracle verifies. At corpus scale this
    * finds the hot few without shuffling the trillions-of-distinct-keys
    * long tail the oracle's shape would.
    */
  val heavyHitters: Q = Q(
    "x35_heavy_hitters",
    s"""WITH tok AS (
       |  SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS key
       |  FROM documents),
       |sh AS (SELECT shingle AS key FROM (${shinglesSql.replace("__CORPUS__", "documents")})),
       |allk AS (SELECT key FROM tok UNION ALL SELECT key FROM sh),
       |tot AS (SELECT count(*) AS total FROM allk)
       |SELECT key, count(*) AS cnt
       |FROM allk CROSS JOIN tot
       |GROUP BY key, total
       |HAVING count(*) * 128 >= total""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val toks = docs.select(
      explode(filter(split(col("text"), " "), x => x =!= lit(""))).as("key"))
    val grams = Dedup.shingles(docs).select(col("shingle").as("key"))
    graft.functions.Sketches.heavyHitters(
      toks.unionByName(grams), col("key"), denom = 128L)
  }

  /** x36/x45's oracle CTEs: the corpus `c`, its words `wt`, and `isl`,
    * every cross-doc 20-token window match with its diagonal `d` and run
    * `island` (windows in more than 10 docs excluded).
    */
  private val dupIslandsSql =
    s"""c AS ($corpusSql),
       |wt AS (SELECT doc_id, string_split(text, ' ') AS w FROM c),
       |pos AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    substr(md5(array_to_string(w[i:i+19], ' ')), 1, 16) AS h
       |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 18)) AS i
       |        FROM wt WHERE len(w) >= 20)),
       |hot AS (SELECT h FROM (
       |  SELECT h, count(DISTINCT doc_id) AS df FROM pos GROUP BY h) WHERE df > 10),
       |idx AS (SELECT * FROM pos WHERE h NOT IN (SELECT h FROM hot)),
       |m AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, a.pos AS pos1, b.pos AS pos2
       |      FROM idx a JOIN idx b ON a.h = b.h AND a.doc_id < b.doc_id),
       |isl AS (SELECT doc1, doc2, pos1 - pos2 AS d, pos1, pos2,
       |        pos1 - row_number() OVER (PARTITION BY doc1, doc2, pos1 - pos2
       |                                  ORDER BY pos1) AS island
       |        FROM m)""".stripMargin

  /** Exact duplicate spans (Dedup.exactDupSpans — the Lee et al. 2022
    * exact-substring dedup): every 20-token window hashed at every
    * position, cross-doc hash matches merged along (pair, diagonal)
    * runs into maximal spans. On the planted corpus each 10th doc and
    * its "xx "-prefixed copy share their full token stream, so the
    * expected output is one maximal span per planted pair at diagonal
    * −1 covering the whole original — which the oracle reproduces with
    * the identical position/hash/island arithmetic.
    */
  val exactDupSpans: Q = Q(
    "x36_exact_dup_spans",
    s"""WITH $dupIslandsSql
       |SELECT doc1, doc2, min(pos1) AS start1, min(pos2) AS start2,
       |  count(*) + 19 AS span_tokens
       |FROM isl GROUP BY doc1, doc2, d, island""".stripMargin) { (s, dir) =>
    Dedup.exactDupSpans(corpus(s, dir), k = 20, maxWindowDf = 10)
  }

  /** Duplicate-span REMOVAL (Dedup.removeDupSpans — the Lee et al. 2022
    * cleaning step on top of x36's span finder): every cross-doc
    * duplicate k-token run loses its higher-doc-id occurrence, cut
    * intervals are merged per doc, survivors reassemble. The oracle
    * replays the whole chain — spans, interval merge (running-max
    * islands), positional cut, reassembly — and returns EVERY doc (the
    * planted near-dup copies come back nearly empty, their originals
    * untouched), so keep-first semantics and the merge arithmetic are
    * both pinned cross-engine.
    */
  val spanRemoval: Q = Q(
    "x45_span_removal",
    s"""WITH $dupIslandsSql,
       |spans AS (
       |  SELECT doc1, doc2, min(pos1) AS start1, min(pos2) AS start2,
       |    count(*) + 19 AS span_tokens
       |  FROM isl GROUP BY doc1, doc2, d, island),
       |cuts AS (SELECT doc2 AS doc_id, start2 AS s, start2 + span_tokens AS e FROM spans),
       |co AS (SELECT doc_id, s, e,
       |       max(e) OVER (PARTITION BY doc_id ORDER BY s, e
       |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
       |       FROM cuts),
       |cg AS (SELECT doc_id, s, e,
       |       sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
       |         OVER (PARTITION BY doc_id ORDER BY s, e) AS g
       |       FROM co),
       |mi AS (SELECT doc_id, g, min(s) AS s, max(e) AS e FROM cg GROUP BY doc_id, g),
       |toks AS (SELECT doc_id, CAST(i AS BIGINT) AS i, w[i] AS tok
       |         FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM wt)),
       |kept AS (SELECT t.doc_id, t.i, t.tok
       |         FROM toks t LEFT JOIN mi
       |           ON t.doc_id = mi.doc_id AND t.i >= mi.s AND t.i < mi.e
       |         WHERE mi.doc_id IS NULL),
       |agg AS (SELECT doc_id, count(*) AS n_kept,
       |        string_agg(tok, ' ' ORDER BY i) AS txt
       |        FROM kept GROUP BY doc_id)
       |SELECT c.doc_id, CAST(coalesce(agg.n_kept, 0) AS INT) AS n_kept,
       |  md5(coalesce(agg.txt, '')) AS clean_md5
       |FROM c LEFT JOIN agg ON c.doc_id = agg.doc_id""".stripMargin) { (s, dir) =>
    Dedup.removeDupSpans(corpus(s, dir), k = 20, maxWindowDf = 10)
      .select(col("doc_id"), col("n_kept").cast("int").as("n_kept"),
        md5(col("clean_text")).as("clean_md5"))
  }

  /** Exact corpus quantiles via histogram rank selection (core.Stats):
    * p50/p90/p99 of document length without a global sort — the corpus
    * scan reduces map-side to a value histogram, the cumulative window
    * runs over the bounded histogram only, and each quantile picks the
    * smallest value whose running count reaches ceil(q·N). The oracle
    * replays the identical histogram + running-sum + rank arithmetic
    * (NOT quantile_disc, whose interpolation convention is the engine's
    * choice); q·N is the same IEEE product on both sides so the rank
    * boundary agrees exactly.
    */
  val exactQuantiles: Q = Q(
    "x37_exact_quantiles",
    """WITH h AS (SELECT n_chars AS v, count(*) AS c FROM documents GROUP BY 1),
      |hc AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM h),
      |n AS (SELECT count(*) AS n FROM documents),
      |qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q)
      |SELECT q, min(v) AS value
      |FROM qs, n, hc WHERE cum >= ceil(q * n) GROUP BY q""".stripMargin) { (s, dir) =>
    graft.core.Stats.exactQuantiles(
      t(s, dir, "documents"), col("n_chars"), Seq(0.5, 0.9, 0.99))
  }

  /** Per-group exact quantiles (Stats.groupedExactQuantiles): p50/p90
    * document length PER LANGUAGE via the same histogram rank selection
    * as x37, with the cumulative window partitioned by the group — its
    * occupancy is the group's value cardinality, never its row count, so
    * stratum skew cannot funnel. The per-language thresholds this emits
    * are the quality-cutoff table a multilingual cleaning pipeline keys
    * on.
    */
  val groupedQuantiles: Q = Q(
    "x40_grouped_quantiles",
    """WITH h AS (SELECT lang, n_chars AS v, count(*) AS c FROM documents GROUP BY 1, 2),
      |hc AS (SELECT lang, v, sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum FROM h),
      |n AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
      |qs AS (SELECT unnest([0.5, 0.9]) AS q)
      |SELECT lang, q, min(v) AS value
      |FROM qs, hc JOIN n USING (lang)
      |WHERE cum >= ceil(q * n) GROUP BY lang, q""".stripMargin) { (s, dir) =>
    graft.core.Stats.groupedExactQuantiles(
      t(s, dir, "documents"), "lang", col("n_chars"), Seq(0.5, 0.9))
  }

  /** Approximate quantiles bound-checked in-plan
    * (Stats.approxQuantilesChecked): the Greenwald–Khanna sketch is the
    * one-pass mergeable 100 TB path (no histogram-cardinality
    * assumption), and its rank guarantee (±N/accuracy) is verified
    * beside the exact histogram value — the a13 discipline: sketch
    * internals have no cross-engine oracle, the accuracy CLAIM does.
    * DuckDB replays the exact quantiles and expects within_bound TRUE.
    */
  val approxQuantiles: Q = Q(
    "a21_approx_quantiles",
    """WITH h AS (SELECT n_chars AS v, count(*) AS c FROM documents GROUP BY 1),
      |hc AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM h),
      |n AS (SELECT count(*) AS n FROM documents),
      |qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q)
      |SELECT q, min(v) AS exact_value, TRUE AS within_bound
      |FROM qs, n, hc WHERE cum >= ceil(q * n) GROUP BY q""".stripMargin) { (s, dir) =>
    graft.core.Stats.approxQuantilesChecked(
      t(s, dir, "documents"), col("n_chars"), Seq(0.5, 0.9, 0.99))
  }

  /** Exact phrase search over positional postings
    * (TextSearch.phraseSearch): occurrence counts of the two-token
    * phrase "batch batch" — a repeated-word phrase, so overlapping
    * occurrences ("batch batch batch" contains it twice) exercise the
    * anchor-vote semantics a substring counter would get wrong. The
    * oracle rebuilds the same 1-based positional postings with
    * generate_subscripts and replays the anchor arithmetic; the Spark
    * side broadcasts the phrase table so only phrase-term postings
    * survive to the shuffle.
    */
  val phraseSearch: Q = Q(
    "x38_phrase_search",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
      |         generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents),
      |ph AS (SELECT * FROM (VALUES ('batch', 0), ('batch', 1)) AS p(term, idx)),
      |anchors AS (
      |  SELECT t.doc_id, t.pos - p.idx AS anchor
      |  FROM toks t JOIN ph p USING (term)
      |  GROUP BY 1, 2 HAVING count(DISTINCT p.idx) = 2)
      |SELECT doc_id, count(*) AS n_matches FROM anchors GROUP BY 1""".stripMargin) {
    (s, dir) =>
      graft.text.TextSearch.phraseSearch(
        t(s, dir, "documents"), Seq("batch", "batch"))
  }

  /** Real BPE subword encoding (text.Bpe — greedy lowest-rank merges with
    * end-of-word sentinel, run as a native codegen expression) under a
    * FIXED merge table so the oracle is corpus-size-independent: the
    * generator vocabulary is a finite 31-word list, so DuckDB replays the
    * tokenization as a per-word lookup whose arms were produced by an
    * independent reference implementation of the same published
    * algorithm (Sennrich et al. 2016) — the two implementations must
    * agree word-for-word or the hash diverges. The ELSE '!' arm makes
    * any vocabulary drift a loud failure. Training (corpus-learned
    * merges) is argmax-iterative and not SQL-expressible; it is locked
    * by BpeSpec's hand-computed Sennrich fixture.
    */
  /** The fixed 12-merge table x46/x48 encode under (learned from the
    * uniform-frequency fixture vocabulary), and its per-word DuckDB
    * replay — arms generated by an independent reference implementation
    * of the published algorithm.
    */
  private val bpeMerges = Seq(
    ("e", "r</w>"), ("o", "w</w>"), ("a", "l"), ("a", "r"), ("a", "s"),
    ("a", "t"), ("e", "r"), ("i", "n"), ("o", "r"), ("p", "ar"),
    ("s", "t"), ("u", "p</w>"))

  private val bpeCaseSql =
    """CASE t
      |      WHEN 'a' THEN 'a</w>'
      |      WHEN 'agg' THEN 'a g g</w>'
      |      WHEN 'batch' THEN 'b at c h</w>'
      |      WHEN 'big' THEN 'b i g</w>'
      |      WHEN 'column' THEN 'c o l u m n</w>'
      |      WHEN 'customer' THEN 'c u st o m er</w>'
      |      WHEN 'data' THEN 'd at a</w>'
      |      WHEN 'dup' THEN 'd up</w>'
      |      WHEN 'fast' THEN 'f as t</w>'
      |      WHEN 'filter' THEN 'f i l t er</w>'
      |      WHEN 'group' THEN 'g r o up</w>'
      |      WHEN 'hash' THEN 'h as h</w>'
      |      WHEN 'join' THEN 'j o i n</w>'
      |      WHEN 'key' THEN 'k e y</w>'
      |      WHEN 'line' THEN 'l in e</w>'
      |      WHEN 'merge' THEN 'm er g e</w>'
      |      WHEN 'order' THEN 'or d er</w>'
      |      WHEN 'part' THEN 'par t</w>'
      |      WHEN 'query' THEN 'q u er y</w>'
      |      WHEN 'row' THEN 'r ow</w>'
      |      WHEN 'scan' THEN 's c a n</w>'
      |      WHEN 'slow' THEN 's l ow</w>'
      |      WHEN 'small' THEN 's m al l</w>'
      |      WHEN 'sort' THEN 's or t</w>'
      |      WHEN 'spark' THEN 's par k</w>'
      |      WHEN 'stream' THEN 'st r e a m</w>'
      |      WHEN 'table' THEN 't a b l e</w>'
      |      WHEN 'the' THEN 't h e</w>'
      |      WHEN 'value' THEN 'v al u e</w>'
      |      WHEN 'vector' THEN 'v e c t o r</w>'
      |      WHEN 'window' THEN 'w in d ow</w>'
      |      ELSE '!' END""".stripMargin

  val bpeEncode: Q = {
    val merges = bpeMerges
    Q(
      "x46_bpe_encode",
      s"""WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ws
        |  FROM documents),
        |enc AS (
        |  SELECT doc_id, list_transform(ws, t -> $bpeCaseSql) AS parts
        |  FROM toks)
        |SELECT doc_id,
        |  array_to_string(parts, ' ') AS bpe_str,
        |  CAST(COALESCE(list_sum(list_transform(parts,
        |    p -> len(string_split(p, ' ')))), 0) AS BIGINT) AS n_tokens
        |FROM enc""".stripMargin) { (s, dir) =>
      val toks = Bpe.encode(col("text"), merges)
      t(s, dir, "documents").select(
        col("doc_id"),
        concat_ws(" ", toks).as("bpe_str"),
        size(toks).cast("long").as("n_tokens"))
    }
  }

  /** Trained-classifier quality scoring (text.QualityClassifier): the
    * map-side linear scorer under FIXED formula weights so DuckDB
    * replays the whole path — md5-nibble bigram buckets (the x32
    * construction), a strict left-to-right weighted fold (bit-identical
    * float sum), and the sigmoid rounded to 6 dp. The FIT side (MLlib
    * LBFGS) is the deliberately iterative model step and is locked by
    * QualityClassifierSpec's separability fixture instead.
    */
  val lrQualityScore: Q = {
    def nib(k: Int) =
      s"(strpos('0123456789abcdef', substr(md5(w[i] || ' ' || w[i+1]), ${k + 1}, 1)) - 1)"
    Q(
      "x47_lr_quality_score",
      s"""WITH wt AS (
         |  SELECT list_transform(generate_series(0, 255),
         |           b -> (((b * 37) % 101) - 50) / 1000.0) AS wl),
         |b AS (
         |  SELECT doc_id, list_transform(range(1, len(w)), i ->
         |    ((${nib(0)} * 4096 + ${nib(1)} * 256 + ${nib(2)} * 16 + ${nib(3)}) % 256)) AS bids
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
         |SELECT doc_id, len(bids) AS n_feats,
         |  round(1.0 / (1.0 + exp(-list_reduce(
         |    list_prepend(CAST(0.1 AS DOUBLE),
         |      list_transform(bids, v -> wl[v + 1])),
         |    (a, x) -> a + x))), 6) AS prob
         |FROM b, wt""".stripMargin) { (s, dir) =>
      val weights = Seq.tabulate(256)(b => ((b * 37) % 101 - 50) / 1000.0)
      graft.text.QualityClassifier.score(
        t(s, dir, "documents"), weights, intercept = 0.1)
    }
  }

  /** Real-tokenizer training shards: x26's sequence packer fed by x46's
    * BPE subword stream instead of the regex tokenizer — the composition
    * a training pipeline actually runs (learned tokens in, budget-sized
    * shards out). The oracle expands each word through the same
    * independently-generated per-word replay, flattens to the subword
    * stream, and re-runs the packing arithmetic end-to-end; the packer's
    * two-level distributed prefix sum must agree with the corpus-wide
    * window pack-for-pack.
    */
  val bpePackedShards: Q = {
    val budget = 512L
    Q(
      "x48_bpe_packed_shards",
      s"""WITH toks AS (SELECT doc_id,
         |    flatten(list_transform(
         |      list_filter(string_split(text, ' '), t -> t <> ''),
         |      t -> string_split($bpeCaseSql, ' '))) AS w
         |  FROM documents),
         |""".stripMargin + packSql(budget)) { (s, dir) =>
      graft.dedup.Sampling.packedShards(
        t(s, dir, "documents"), "doc_id",
        Bpe.encode(col("text"), bpeMerges),
        budget = budget, numRanges = 16)
        .select(col("pack_id"), col("n_spans"), col("n_tokens"),
          md5(concat_ws(" ", col("tokens"))).as("shard_md5"))
    }
  }

  /** Token-budget mixture (Sampling.tokenBudgetMixture): per `source`
    * domain, documents in stable (md5(id), id) order until 600 tokens
    * are spent, first crossing doc included. The oracle runs the ONE
    * corpus-wide-per-domain window the operator refuses to (the
    * shuffleOrder oracle convention) — the two-level range construction
    * must reproduce it row-for-row, cum_before included.
    */
  val tokenBudget: Q = Q(
    "x49_token_budget_mixture",
    """WITH b AS (
      |  SELECT doc_id, source,
      |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tokens,
      |    md5(CAST(doc_id AS VARCHAR)) AS h
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, source, n_tokens,
      |    CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
      |  FROM b)
      |SELECT doc_id, source, n_tokens, cum_before
      |FROM c WHERE cum_before < 600""".stripMargin) { (s, dir) =>
    graft.dedup.Sampling.tokenBudgetMixture(
      t(s, dir, "documents"), "doc_id", "source",
      TextAnalysis.wordCount(col("text")), budgetPerDomain = 600L, numRanges = 64)
  }

  /** Epoch-aware mixture (Sampling.epochMixture — the data-constrained
    * regime): budget 3000 against per-source availability ~1100–1600 at
    * sf0.01, maxEpochs 2 — so sources under 1500 tokens hit the 2-epoch
    * CAP (full repeats, no partial), richer sources take 1 full epoch
    * plus a partial remainder in x49's stable (md5, id) first-crossing
    * order. The oracle replays availability, the capped integer epoch
    * count, the row-per-epoch expansion, and the remainder window (CAST
    * discipline throughout — DuckDB sums are HUGEINT).
    */
  val epochMixture: Q = Q(
    "x54_epoch_mixture",
    """WITH b AS (
      |  SELECT doc_id, source,
      |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tokens,
      |    md5(CAST(doc_id AS VARCHAR)) AS h
      |  FROM documents),
      |av AS (SELECT source, sum(n_tokens) AS avail FROM b GROUP BY source),
      |k AS (SELECT source, avail,
      |      CAST(least(2, 3000 // avail) AS BIGINT) AS fe FROM av),
      |f AS (
      |  SELECT doc_id, source, CAST(e AS INT) AS epoch, n_tokens
      |  FROM (SELECT doc_id, source, n_tokens, unnest(range(fe)) AS e
      |        FROM b JOIN k USING (source))),
      |p AS (
      |  SELECT doc_id, source, CAST(fe AS INT) AS epoch, n_tokens FROM (
      |    SELECT b.doc_id, b.source, b.n_tokens, k.fe,
      |      3000 - k.fe * k.avail AS rem,
      |      CAST(COALESCE(sum(b.n_tokens) OVER (PARTITION BY b.source
      |        ORDER BY b.h, b.doc_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
      |    FROM b JOIN k USING (source) WHERE k.fe < 2)
      |  WHERE rem > 0 AND cb < rem)
      |SELECT * FROM f UNION ALL SELECT * FROM p""".stripMargin) { (s, dir) =>
    graft.dedup.Sampling.epochMixture(
      t(s, dir, "documents"), "doc_id", "source",
      TextAnalysis.wordCount(col("text")), budgetPerDomain = 3000L,
      maxEpochs = 2, numRanges = 64)
  }

  val all: Seq[Q] = Seq(
    dedupExact, minhashSignature, minhashLshPairs, simhash, simhashPairs,
    simhashPairsComb, ngramJaccardPairs, containmentPairs, sortedNeighborhood,
    dedupClusters, clusterReps,
    embeddingNearDups,
    langId, qualityScore,
    tokenStats, fingerprint,
    textKeys, stemmedKeys, sentenceSplit, sentenceDedup, hashSplit, stratifiedSample,
    boilerplateNgrams, cleanCorpus, chunking, splitLeakage,
    sequencePacking, sequencePackSpans, packedShards, shuffleOrder, tfidfTerms,
    tfidfCapped,
    mixtureSample, temperatureSample, repetition, bm25, hybridRrf, cosinePairs, piiRedact,
    incrementalMinhash,
    gopherStats, winnowedFps, spanOverlap, contrastiveTriples, lengthBuckets, domainStats,
    ngramPerplexity, dsirWeights, boilerplateRemoval, weightedSample,
    heavyHitters, exactDupSpans, exactQuantiles, approxQuantiles, groupedQuantiles,
    phraseSearch, urlCanonical, gopherGates, htmlExtract, htmlLinks,
    prefixJaccard, editDistPairs, corpusDiff, spanRemoval, bpeEncode,
    lrQualityScore, bpePackedShards, tokenBudget, urlSnapshotDedup,
    unicodeNormalize, ngramNovelty, clusterSplit, epochMixture)
}
