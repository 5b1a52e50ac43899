package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import Q._

/** Near-duplicate detection battery over `documents` — the
  * training-data-pipeline dedup operators (MinHash+LSH, SimHash,
  * n-gram Jaccard, fingerprinting, language-ID). The corpus plants
  * ~25 near-dup pairs (Jaccard 0.9-0.99) across source boundaries, so
  * LSH banding (not metadata blocking) is the candidate generator
  * that finds them.
  *
  * Scale design: every per-document stage is a narrow projection (no
  * shuffle); the only shuffles are the band-key equi-join (LSH) and
  * the final sort. Documents are reduced to 28-bit shingle-hash SETS
  * in the first projection — candidate joins and jaccard verification
  * never carry text (at 100 TB the band join moves only
  * (doc_id, band, 8-byte key) tuples).
  *
  * All hashes are md5-derived + universal-family transforms, bit-
  * identical in DuckDB, so even the LSH candidate sets are
  * oracle-checked exactly.
  */
object DedupQueries {

  // q_jaccard_block consumes its per-doc shingle-hash frame on BOTH
  // sides of a blocked ALL-PAIRS join — persisting it measured 2.68x
  // (interleaved A/B, min-of-5 same JVM). One generation kept,
  // rotated per call so rep-major bench reruns never stack cache
  // entries. The LSH lanes are NOT persisted (measured loss —
  // see lshCandidates).
  private val persisted =
    new java.util.concurrent.atomic.AtomicReference[Seq[DataFrame]](Nil)
  private def keepPersisted(dfs: DataFrame*): Unit =
    persisted.getAndSet(dfs.toSeq).foreach(_.unpersist(false))

  private val K = 8            // minhash signature length
  private val R = 2            // rows per LSH band -> 4 bands
  private val VERIFY = 0.8     // post-LSH jaccard verification threshold
  // signature-estimate threshold: n agreeing minhash components out of
  // K. E[agree/K] = jaccard, so 6/8 = 0.75 is the estimate-grid point
  // just below VERIFY — borderline-true pairs survive quantization.
  private val SIG_VERIFY = 6

  private val markerSets: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "de" -> Seq("data", "table", "row"),
    "fr" -> Seq("query", "join", "filter"),
    "es" -> Seq("fast", "slow", "big"),
    "zh" -> Seq("spark", "vector", "stream"))

  /** doc_id + distinct shingle-hash set, staged so the expensive array
    * is computed exactly once per row. */
  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
    * MOSS algorithm; the standard robust-fingerprint primitive for
    * code/plagiarism dedup): hash every K-gram, slide a W-window over
    * the hash sequence and keep each window's minimum — the guarantee
    * is that any shared substring of length >= W+K-1 produces at least
    * one shared fingerprint, at ~2/(W+1) the density of full gram
    * sets. Pure per-doc projection (zero shuffle) through two
    * codegen'd kernels ([[graft.functions.TokenGramHashes]] /
    * [[graft.functions.SlidingMin]] — ~6× the interpreted
    * transform/slice formulation); the dedup consumer joins on the
    * fingerprint hashes exactly like q_lsh_neardup's bands. `fam` =
    * Md5Hash is the oracle-parity lane; Xx64Hash the production lane
    * benched as q_winnow_fast. */
  private[graft] def winnowFrame(s: SparkSession, dir: String,
      fam: HashFamily): DataFrame = {
    val K = 4; val W = 5
    val grams = coalesce(
      tokenGramHashes(split(col("text"), " "), K, fam),
      array().cast("array<bigint>"))
    // materialize grams then fps in their own projection stages —
    // within a single select each output column evaluates its
    // expression tree independently, so an inline fps would run the
    // deque pass three times (n_fingerprints, fp_min, fp_max)
    t(s, dir, "documents")
      .select(col("doc_id"), grams.as("__grams"))
      .select(col("doc_id"),
        size(col("__grams")).cast("long").as("n_grams"),
        array_distinct(slidingWindowMin(col("__grams"), W)).as("__fps"))
      .select(col("doc_id"), col("n_grams"),
        size(col("__fps")).cast("long").as("n_fingerprints"),
        array_min(col("__fps")).as("fp_min"),
        array_max(col("__fps")).as("fp_max"))
      .orderBy("doc_id")
  }

  private def hashedShingles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), shingles(col("text"), 3).as("sh"))
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"),
        shingleHashes(col("sh")).as("hs"))

  /** Shared head of the LSH near-dup pipeline: distinct shingle-hash
    * sets, k-component minhash signatures, and the banded candidate
    * pairs (shingle-hash -> sign -> band -> bucket-join). */
  private def lshCandidates(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    // NOT persisted: an r18 interleaved A/B
    // measured persisting hs (and hs+bands) LOSING 0.83-0.89x here —
    // the InMemoryRelation materialization barrier costs more than the
    // re-shingling it saves once the documents scan is parallel. (The
    // same A/B kept q_jaccard_block's hs persist at 2.68x: that lane's
    // blocked all-pairs join re-evaluates hs per PAIR side, a far
    // heavier recompute.)
    val hs = hashedShingles(s, dir).select(col("doc_id"), col("hs"))
    val sig = hs.select(col("doc_id"), minhashSignature(col("hs"), K).as("sig"))
    val bands = sig
      .select(col("doc_id"), explode(lshBandKeys(col("sig"), K, R)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    (hs, sig, cand)
  }

  /** Verified near-dup pairs — the shared tail of the LSH pipeline
    * (candidates -> exact jaccard over hash sets >= VERIFY). */
  private def verifiedPairs(s: SparkSession, dir: String): DataFrame = {
    val (hs, _, cand) = lshCandidates(s, dir)
    cand
      .join(hs.select(col("doc_id").as("id_a"), col("hs").as("hs_a")), "id_a")
      .join(hs.select(col("doc_id").as("id_b"), col("hs").as("hs_b")), "id_b")
      .select(col("id_a"), col("id_b"), round(jaccard(col("hs_a"), col("hs_b")), 6).as("jac"))
      .where(col("jac") >= VERIFY)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // per-doc MinHash signature (k=4 unpacked for value-level checking)
    "q_minhash_sig" -> ((s, dir) => {
      hashedShingles(s, dir)
        .select(col("doc_id"), col("n_shingles"),
          minhashSignature(col("hs"), 4).as("sig"))
        .select(
          col("doc_id"), col("n_shingles"),
          element_at(col("sig"), 1).as("mh1"),
          element_at(col("sig"), 2).as("mh2"),
          element_at(col("sig"), 3).as("mh3"),
          element_at(col("sig"), 4).as("mh4")
        ).orderBy("doc_id")
    }),

    // full MinHash-LSH near-dup pipeline: shingle-hash -> sign -> band
    // -> bucket-join -> verified jaccard (over hash sets)
    "q_lsh_neardup" -> ((s, dir) => verifiedPairs(s, dir).orderBy("id_a", "id_b")),

    // signature-only near-dup verification: estimate jaccard as the
    // fraction of AGREEING minhash components instead of joining the
    // full shingle-hash sets. At 100 TB this is the verify shape that
    // matters — the exact-jaccard tail ships every candidate's whole
    // hash set (unbounded, ~doc-sized) through two joins, while this
    // lane ships exactly K longs per doc regardless of document size.
    // E[n_agree/K] = true jaccard (each minhash component agrees with
    // probability = jaccard), so thresholding n_agree is the standard
    // MinHash estimator (Broder 1997).
    "q_lsh_neardup_sig" -> ((s, dir) => {
      val (_, sig, cand) = lshCandidates(s, dir)
      val nAgree = (1 to K).map(i =>
          when(element_at(col("sig_a"), i) === element_at(col("sig_b"), i), 1L)
            .otherwise(0L)).reduce(_ + _)
      cand
        .join(sig.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), "id_a")
        .join(sig.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), "id_b")
        .select(col("id_a"), col("id_b"), nAgree.cast("long").as("n_agree"))
        .where(col("n_agree") >= SIG_VERIFY)
        .select(col("id_a"), col("id_b"), col("n_agree"),
          (col("n_agree").cast("double") / K).as("est_jac"))
        .orderBy("id_a", "id_b")
    }),

    // dedup group resolution: verified pairs -> connected components
    // (hash-min label propagation, operators.DedupResolve) -> per-group
    // summary under the min-id-survives rule. The missing "last mile"
    // of a production dedup pipeline — transitive closure of pairs.
    "q_dedup_groups" -> ((s, dir) => {
      val comps = graft.operators.DedupResolve.connectedComponents(
        verifiedPairs(s, dir).select("id_a", "id_b"))
      comps.groupBy(col("comp").as("survivor_id"))
        .agg(count(lit(1)).as("n_docs"), max(col("id")).as("max_id"))
        .orderBy("survivor_id")
    }),

    // quality-aware dedup resolution: within each near-dup component
    // the LONGEST doc survives (ties -> lowest id) — the production
    // keep rule, vs q_dedup_groups' min-id canonical labelling. Output
    // one row per flagged doc so the oracle pins every keep decision.
    "q_dedup_keep_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      graft.operators.DedupResolve.keepBestList(
          docs, "doc_id", "n_chars", verifiedPairs(s, dir).select("id_a", "id_b"))
        .select(col("doc_id"), col("comp"), col("n_chars"),
          col("keep").cast("long").as("keep"))
        .orderBy("doc_id")
    }),

    // 16-bit SimHash per doc + hamming distance to a reference doc
    "q_simhash" -> ((s, dir) => {
      val hs = t(s, dir, "documents")
        .select(col("doc_id"), tokenHashes(tokens(col("text"))).as("hs"))
      val sh = hs.select(col("doc_id"), simhashFromHashes(col("hs"), 16).as("sh"))
      val ref = sh.where(col("doc_id") === 0).select(col("sh").as("ref_sh"))
      sh.crossJoin(broadcast(ref))
        .select(col("doc_id"), col("sh"), hammingDistance(col("sh"), col("ref_sh")).as("ham"))
        .orderBy("doc_id")
    }),

    // SimHash near-dup detection, Manku et al. 2007 (the web-scale
    // simhash dedup design: band the fingerprint so candidates join
    // on exact band equality — the pigeonhole guarantee is that any
    // pair within hamming distance d shares at least one of B bands
    // when d < B, so B=4 bands give a COMPLETE candidate set for
    // d <= 3 — then verify with popcount at exactly that threshold).
    // 32-bit simhash (the universal-hash base is 31-bit), 4 bands x
    // 8 bits, dup = hamming <= 3. Scale shape: one shuffle on
    // (band, value) — fingerprints move, never text; the quadratic
    // step only runs inside band buckets.
    "q_simhash_neardup" -> ((s, dir) => {
      val B = 4; val BITS = 8; val HAM = 3
      val sh = t(s, dir, "documents")
        .select(col("doc_id"), tokenHashes(tokens(col("text"))).as("hs"))
        .select(col("doc_id"), simhashFromHashes(col("hs"), 32).as("sh"))
      val bands = sh.select(col("doc_id"), col("sh"),
        posexplode(array((0 until B).map(b =>
          shiftright(col("sh"), b * BITS).bitwiseAND(lit(0xffL))): _*))
          .as(Seq("band", "bval")))
      val left = bands.select(col("band"), col("bval"),
        col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val right = bands.select(col("band").as("band_b"), col("bval").as("bval_b"),
        col("doc_id").as("id_b"), col("sh").as("sh_b"))
      val cand = left.join(right,
          col("band") === col("band_b") && col("bval") === col("bval_b") &&
            col("id_a") < col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b").distinct()
      cand.select(hammingDistance(col("sh_a"), col("sh_b")).as("ham"))
        .groupBy("ham").agg(count(lit(1)).as("n_pairs"))
        .select(col("ham"), col("n_pairs"),
          (col("ham") <= HAM).cast("long").as("is_dup"))
        .orderBy("ham")
    }),

    // blocked exact-Jaccard baseline: all pairs within (source, lang),
    // summarized per block (the quadratic baseline LSH replaces)
    "q_jaccard_block" -> ((s, dir) => {
      val hs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"), shingles(col("text"), 3).as("sh"))
        .select(col("doc_id"), col("source"), col("lang"), shingleHashes(col("sh")).as("hs"))
      val hsP = Q.p(hs)
      keepPersisted(hsP)
      val a = hs.select(col("source"), col("lang"), col("doc_id").as("id_a"), col("hs").as("hs_a"))
      val b = hs.select(col("source").as("source_b"), col("lang").as("lang_b"),
        col("doc_id").as("id_b"), col("hs").as("hs_b"))
      a.join(b, col("source") === col("source_b") && col("lang") === col("lang_b") &&
          col("id_a") < col("id_b"))
        .select(col("source"), col("lang"), round(jaccard(col("hs_a"), col("hs_b")), 6).as("jac"))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_pairs"),
          round(max(col("jac")), 6).as("max_jac"),
          count(when(col("jac") > 0.3, lit(1))).as("n_neardup"))
        .orderBy("source", "lang")
    }),

    // Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
    // MOSS algorithm; the standard robust-fingerprint primitive for
    // code/plagiarism dedup): hash every K-gram, slide a W-window
    // over the hash sequence and keep each window's minimum — the
    // guarantee is that any shared substring of length >= W+K-1
    // produces at least one shared fingerprint, at ~2/(W+1) the
    // density of full gram sets. Pure per-doc array projection (zero
    // shuffle); the dedup consumer joins on the fingerprint hashes
    // exactly like q_lsh_neardup's bands.
    "q_winnow_fingerprint" -> ((s, dir) => winnowFrame(s, dir, Md5Hash)),

    // marker-word language-ID heuristic -> confusion matrix vs labels
    "q_lang_id" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("lang"),
          langIdPredict(array_distinct(tokens(col("text"))), markerSets).as("pred"))
        .groupBy(col("lang"), col("pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred")
    }),

    // document fingerprints: whole-text 60-bit hash + min/max 28-bit
    // shingle hash (rolling-hash-style content fingerprint)
    "q_fingerprint" -> ((s, dir) => {
      hashedShingles(s, dir)
        .join(t(s, dir, "documents").select(col("doc_id"), col("text")), "doc_id")
        .select(
          col("doc_id"),
          portableHash(col("text")).as("fp"),
          coalesce(array_min(col("hs")), lit(-1L)).as("min_shingle_fp"),
          coalesce(array_max(col("hs")), lit(-1L)).as("max_shingle_fp")
        ).orderBy("doc_id")
    })
  )

  // ---------------------------------------------------------------- oracles
  // Shared SQL fragments (DuckDB): hash + shingles, kept textually in
  // sync with TextFunctions.
  private val H = (e: String) => s"(('0x' || substring(md5($e), 1, 15))::BIGINT)"
  private val H28 = (e: String) => s"(('0x' || substring(md5($e), 1, 7))::BIGINT)"
  private def uh(i: Int, e: String) = s"((${uhashA(i)} * $e + ${uhashB(i)}) % $UHASH_P)"
  private val shingleSql =
    """list_distinct(CASE WHEN LEN(string_split(text,' ')) >= 3
      |  THEN list_transform(range(0, LEN(string_split(text,' ')) - 2),
      |    i -> string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2] || ' ' || string_split(text,' ')[i+3])
      |  ELSE [] END)""".stripMargin
  private val hsSql = s"list_distinct(list_transform(sh, s -> ${H28("s")}))"
  private def mhSql(i: Int) =
    s"COALESCE(list_min(list_transform(hs, h -> ${uh(i, "h")})), -1)"
  private val jacSql =
    "CAST(LEN(list_intersect(hs_a, hs_b)) AS DOUBLE) / LEN(list_distinct(list_concat(hs_a, hs_b)))"
  private def simhashSqlBits(nBits: Int): String = (0 until nBits).map { j =>
    s"CASE WHEN 2 * LEN(list_filter(hs, h -> (h >> $j) & 1 = 1)) > LEN(hs) THEN ${1L << j} ELSE 0 END"
  }.mkString(" + ")
  private val simhashSql = simhashSqlBits(16)
  private val simhash32Sql = simhashSqlBits(32)
  private val langCase = {
    val scores = markerSets.map { case (lang, ws) =>
      lang -> s"LEN(list_intersect(toks, [${ws.map(w => s"'$w'").mkString(",")}]))"
    }
    val maxExpr = s"GREATEST(${scores.map(_._2).mkString(", ")})"
    scores.map { case (lang, sc) => s"WHEN $sc = $maxExpr THEN '$lang'" }
      .mkString("CASE ", " ", " ELSE 'und' END")
  }

  val oracleSql: Map[String, String] = Map(
    "q_minhash_sig" ->
      s"""WITH s AS (SELECT doc_id, $shingleSql AS sh FROM documents),
         |h AS (SELECT doc_id, CAST(LEN(sh) AS BIGINT) AS n_shingles, $hsSql AS hs FROM s)
         |SELECT doc_id, n_shingles,
         |  ${mhSql(0)} AS mh1, ${mhSql(1)} AS mh2,
         |  ${mhSql(2)} AS mh3, ${mhSql(3)} AS mh4
         |FROM h ORDER BY doc_id""".stripMargin,

    "q_lsh_neardup" -> {
      val sig = (0 until K).map(mhSql).zipWithIndex
        .map { case (e, i) => s"$e AS mh$i" }.mkString(", ")
      val bandRows = (0 until K / R).map { b =>
        val key = H((0 until R).map(r => s"CAST(mh${b * R + r} AS VARCHAR)")
          .mkString(" || '_' || "))
        s"SELECT doc_id, $b AS band, $key AS bkey FROM sig"
      }.mkString(" UNION ALL ")
      s"""WITH s AS (SELECT doc_id, $shingleSql AS sh FROM documents),
         |h AS (SELECT doc_id, $hsSql AS hs FROM s),
         |sig AS (SELECT doc_id, $sig FROM h),
         |bands AS ($bandRows),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
         |SELECT id_a, id_b, jac FROM (
         |  SELECT id_a, id_b, ROUND($jacSql, 6) AS jac
         |  FROM cand
         |  JOIN (SELECT doc_id AS id_a, hs AS hs_a FROM h) USING (id_a)
         |  JOIN (SELECT doc_id AS id_b, hs AS hs_b FROM h) USING (id_b))
         |WHERE jac >= $VERIFY ORDER BY id_a, id_b""".stripMargin
    },

    "q_lsh_neardup_sig" -> {
      val sig = (0 until K).map(mhSql).zipWithIndex
        .map { case (e, i) => s"$e AS mh$i" }.mkString(", ")
      val bandRows = (0 until K / R).map { b =>
        val key = H((0 until R).map(r => s"CAST(mh${b * R + r} AS VARCHAR)")
          .mkString(" || '_' || "))
        s"SELECT doc_id, $b AS band, $key AS bkey FROM sig"
      }.mkString(" UNION ALL ")
      val aCols = (0 until K).map(i => s"mh$i AS a$i").mkString(", ")
      val bCols = (0 until K).map(i => s"mh$i AS b$i").mkString(", ")
      val agree = (0 until K)
        .map(i => s"(CASE WHEN a$i = b$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH s AS (SELECT doc_id, $shingleSql AS sh FROM documents),
         |h AS (SELECT doc_id, $hsSql AS hs FROM s),
         |sig AS (SELECT doc_id, $sig FROM h),
         |bands AS ($bandRows),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
         |SELECT id_a, id_b, n_agree, CAST(n_agree AS DOUBLE) / $K AS est_jac
         |FROM (
         |  SELECT id_a, id_b, CAST($agree AS BIGINT) AS n_agree
         |  FROM cand
         |  JOIN (SELECT doc_id AS id_a, $aCols FROM sig) USING (id_a)
         |  JOIN (SELECT doc_id AS id_b, $bCols FROM sig) USING (id_b))
         |WHERE n_agree >= $SIG_VERIFY ORDER BY id_a, id_b""".stripMargin
    },

    "q_dedup_groups" -> {
      val sig = (0 until K).map(mhSql).zipWithIndex
        .map { case (e, i) => s"$e AS mh$i" }.mkString(", ")
      val bandRows = (0 until K / R).map { b =>
        val key = H((0 until R).map(r => s"CAST(mh${b * R + r} AS VARCHAR)")
          .mkString(" || '_' || "))
        s"SELECT doc_id, $b AS band, $key AS bkey FROM sig"
      }.mkString(" UNION ALL ")
      // transitive closure via recursive CTE; comp = min reachable id
      s"""WITH RECURSIVE s AS (SELECT doc_id, $shingleSql AS sh FROM documents),
         |h AS (SELECT doc_id, $hsSql AS hs FROM s),
         |sig AS (SELECT doc_id, $sig FROM h),
         |bands AS ($bandRows),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |pairs AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT id_a, id_b, ROUND($jacSql, 6) AS jac
         |    FROM cand
         |    JOIN (SELECT doc_id AS id_a, hs AS hs_a FROM h) USING (id_a)
         |    JOIN (SELECT doc_id AS id_b, hs AS hs_b FROM h) USING (id_b))
         |  WHERE jac >= $VERIFY),
         |edges AS (
         |  SELECT id_a AS s, id_b AS d FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(s, d) AS (
         |  SELECT s, d FROM edges
         |  UNION
         |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
         |comp AS (SELECT s AS id, LEAST(s, MIN(d)) AS comp FROM reach GROUP BY s)
         |SELECT comp AS survivor_id, COUNT(*) AS n_docs, MAX(id) AS max_id
         |FROM comp GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "q_dedup_keep_best" -> {
      val sig = (0 until K).map(mhSql).zipWithIndex
        .map { case (e, i) => s"$e AS mh$i" }.mkString(", ")
      val bandRows = (0 until K / R).map { b =>
        val key = H((0 until R).map(r => s"CAST(mh${b * R + r} AS VARCHAR)")
          .mkString(" || '_' || "))
        s"SELECT doc_id, $b AS band, $key AS bkey FROM sig"
      }.mkString(" UNION ALL ")
      // same closure as q_dedup_groups, then highest-n_chars survivor
      s"""WITH RECURSIVE s AS (SELECT doc_id, $shingleSql AS sh FROM documents),
         |h AS (SELECT doc_id, $hsSql AS hs FROM s),
         |sig AS (SELECT doc_id, $sig FROM h),
         |bands AS ($bandRows),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |pairs AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT id_a, id_b, ROUND($jacSql, 6) AS jac
         |    FROM cand
         |    JOIN (SELECT doc_id AS id_a, hs AS hs_a FROM h) USING (id_a)
         |    JOIN (SELECT doc_id AS id_b, hs AS hs_b FROM h) USING (id_b))
         |  WHERE jac >= $VERIFY),
         |edges AS (
         |  SELECT id_a AS s, id_b AS d FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(s, d) AS (
         |  SELECT s, d FROM edges
         |  UNION
         |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
         |comp AS (SELECT s AS id, LEAST(s, MIN(d)) AS comp FROM reach GROUP BY s),
         |lab AS (
         |  SELECT dd.doc_id, COALESCE(c.comp, dd.doc_id) AS comp, dd.n_chars
         |  FROM documents dd LEFT JOIN comp c ON dd.doc_id = c.id),
         |win AS (
         |  SELECT doc_id, comp, n_chars,
         |    ROW_NUMBER() OVER (PARTITION BY comp ORDER BY n_chars DESC, doc_id) AS rn
         |  FROM lab)
         |SELECT doc_id, comp, n_chars,
         |  CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM win ORDER BY doc_id""".stripMargin
    },

    "q_simhash" ->
      s"""WITH hs AS (
         |  SELECT doc_id, list_transform(string_split(text, ' '),
         |    t -> ${uh(99, H28("t"))}) AS hs
         |  FROM documents),
         |sh AS (SELECT doc_id, CAST($simhashSql AS BIGINT) AS sh FROM hs)
         |SELECT doc_id, sh,
         |  CAST(bit_count(xor(sh, (SELECT sh FROM sh WHERE doc_id = 0))) AS BIGINT) AS ham
         |FROM sh ORDER BY doc_id""".stripMargin,

    "q_simhash_neardup" -> {
      val bandRows = (0 until 4).map { b =>
        s"SELECT doc_id, sh, $b AS band, (sh >> ${b * 8}) & 255 AS bval FROM sh"
      }.mkString(" UNION ALL ")
      s"""WITH hs AS (
         |  SELECT doc_id, list_transform(string_split(text, ' '),
         |    t -> ${uh(99, H28("t"))}) AS hs
         |  FROM documents),
         |sh AS (SELECT doc_id, CAST($simhash32Sql AS BIGINT) AS sh FROM hs),
         |bands AS ($bandRows),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
         |    x.sh AS sh_a, y.sh AS sh_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bval = y.bval AND x.doc_id < y.doc_id)
         |SELECT CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS ham,
         |  COUNT(*) AS n_pairs,
         |  CAST(CASE WHEN bit_count(xor(sh_a, sh_b)) <= 3 THEN 1 ELSE 0 END
         |    AS BIGINT) AS is_dup
         |FROM cand GROUP BY 1, 3 ORDER BY 1""".stripMargin
    },

    "q_jaccard_block" ->
      s"""WITH s AS (SELECT doc_id, source, lang, $shingleSql AS sh FROM documents),
         |h AS (SELECT doc_id, source, lang, $hsSql AS hs FROM s)
         |SELECT source, lang, COUNT(*) AS n_pairs,
         |  ROUND(MAX(jac), 6) AS max_jac,
         |  COUNT(CASE WHEN jac > 0.3 THEN 1 END) AS n_neardup
         |FROM (
         |  SELECT a.source, a.lang, ROUND($jacSql, 6) AS jac
         |  FROM (SELECT source, lang, doc_id AS id_a, hs AS hs_a FROM h) a
         |  JOIN (SELECT source AS source_b, lang AS lang_b, doc_id AS id_b, hs AS hs_b FROM h) b
         |    ON a.source = b.source_b AND a.lang = b.lang_b AND a.id_a < b.id_b)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_winnow_fingerprint" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT doc_id,
        |  CASE WHEN LEN(t) >= 4 THEN list_transform(range(0, LEN(t) - 3),
        |    i -> ('0x' || substring(md5(array_to_string(t[i+1 : i+4], ' ')), 1, 15))::BIGINT)
        |  ELSE CAST([] AS BIGINT[]) END AS grams
        |  FROM tk),
        |f AS (SELECT doc_id, LEN(grams) AS ng,
        |  CASE WHEN LEN(grams) > 0 THEN list_distinct(list_transform(
        |    range(0, GREATEST(LEN(grams) - 4, 1)),
        |    i -> list_min(grams[i+1 : i+5])))
        |  ELSE CAST([] AS BIGINT[]) END AS fps
        |  FROM g)
        |SELECT doc_id, CAST(ng AS BIGINT) AS n_grams,
        |  CAST(LEN(fps) AS BIGINT) AS n_fingerprints,
        |  list_min(fps) AS fp_min, list_max(fps) AS fp_max
        |FROM f ORDER BY doc_id""".stripMargin,

    "q_lang_id" ->
      s"""WITH p AS (
         |  SELECT lang, $langCase AS pred
         |  FROM (SELECT lang, list_distinct(string_split(text, ' ')) AS toks FROM documents))
         |SELECT lang, pred, COUNT(*) AS n FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_fingerprint" ->
      s"""WITH s AS (SELECT doc_id, text, $shingleSql AS sh FROM documents),
         |h AS (SELECT doc_id, text, $hsSql AS hs FROM s)
         |SELECT doc_id, ${H("text")} AS fp,
         |  COALESCE(list_min(hs), -1) AS min_shingle_fp,
         |  COALESCE(list_max(hs), -1) AS max_shingle_fp
         |FROM h ORDER BY doc_id""".stripMargin
  )
}
