package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Q._

/** Text-analysis battery over the `documents` table — the
  * training-data-pipeline operators (quality scoring, token counting,
  * exact dedup) in their SQL-expressible form. The hash-based ops
  * (MinHash/SimHash/fingerprinting) live in [[graft.queries.DedupQueries]]
  * over [[graft.functions.TextFunctions]], fully oracle-gated.
  */
object TextQueries {

  /** q_blocklist_filter's phrase list: six present in the word-soup
    * corpus (incl. cross-token phrases), two never present. Inlined
    * identically into the DuckDB oracle. */
  private[graft] val BlocklistPatterns = Seq(
    "slow", "dup", "hash join", "scan merge", "big data", "stream stream",
    "javascript", "lorem ipsum")

  /** q_bm25_topk's query set: (query id, terms) over the corpus
    * vocabulary — inlined identically into the DuckDB oracle. */
  private[graft] val Bm25Queries: Seq[(Int, Seq[String])] = Seq(
    0 -> Seq("join", "filter"), 1 -> Seq("hash", "table"),
    2 -> Seq("stream", "window"), 3 -> Seq("sort", "merge"),
    4 -> Seq("slow", "query"), 5 -> Seq("batch", "data"),
    6 -> Seq("spark", "scan"), 7 -> Seq("group", "agg", "key"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // quality-scoring features: char length, token count, mean word
    // length, punctuation-free ratio, stopword ratio
    "q_text_quality" -> ((s, dir) => {
      val txt = col("text")
      val tokens = split(txt, " ")
      val nTok = size(tokens).cast("long")
      val stop = array(lit("the"), lit("a"), lit("of"), lit("and"), lit("to"))
      t(s, dir, "documents").select(
        col("doc_id"),
        length(txt).cast("long").as("n_chars"),
        nTok.as("n_tokens"),
        round((length(txt).cast("double") - (nTok - 1).cast("double")) / nTok.cast("double"), 6).as("mean_wordlen"),
        size(filter(tokens, tk => array_contains(stop, tk))).cast("long").as("n_stop"),
        round(size(filter(tokens, tk => array_contains(stop, tk))).cast("double") / nTok.cast("double"), 6).as("stop_ratio"),
        size(filter(tokens, tk => length(tk) >= 5)).cast("long").as("n_long_tokens")
      ).orderBy("doc_id")
    }),

    // URL normalization for web-crawl curation: canonicalize scheme/
    // host case, strip default ports and fragments, drop tracking
    // params (utm_*/fbclid/gclid), sort the surviving query params,
    // extract the registered domain (naive last-two-labels — no PSL
    // in either engine) and path depth. URLs are INJECTED from doc_id
    // integer math so both engines canonicalize byte-identical inputs
    // covering every branch (case noise, www/cdn subdomains, default
    // and non-default ports on both schemes, tracking-param
    // positions, trailing slashes, fragments). Pure projection —
    // zero shuffle at any scale.
    "q_url_normalize" -> ((s, dir) => {
      val url = concat(
        lit("HtTp"), when(col("doc_id") % 2 === 0, "s").otherwise(""),
        lit("://"),
        when(col("doc_id") % 3 === 0, "WWW.")
          .when(col("doc_id") % 3 === 1, "cdn.").otherwise(""),
        lit("site"), (col("doc_id") % 17).cast("string"),
        lit(".Example"), (col("doc_id") % 5).cast("string"), lit(".COM"),
        when(col("doc_id") % 6 === 0, ":443").otherwise(""),
        lit("/Path"), (col("doc_id") % 9).cast("string"), lit("/page"),
        when(col("doc_id") % 4 === 0, "/").otherwise(""),
        when(col("doc_id") % 2 === 0,
            concat(lit("?utm_source=x&id="), col("doc_id").cast("string")))
          .otherwise(concat(lit("?id="), col("doc_id").cast("string"),
            lit("&utm_campaign=z&b=2"))),
        when(col("doc_id") % 5 === 0, "#frag").otherwise(""))
      val staged = t(s, dir, "documents").select(col("doc_id"), url.as("__url"))
      val scheme = lower(regexp_extract(col("__url"), "^([A-Za-z]+)://", 1))
      val hostport = regexp_extract(col("__url"), "^[A-Za-z]+://([^/?#]+)", 1)
      val host = lower(regexp_extract(hostport, "^([^:]+)", 1))
      val port = regexp_extract(hostport, ":([0-9]+)$", 1)
      val path = regexp_extract(col("__url"), "^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
      val query = regexp_extract(col("__url"), "\\?([^#]*)", 1)
      val keep = filter(split(query, "&"), p =>
        !(p.startsWith("utm_") || p.startsWith("fbclid=") ||
          p.startsWith("gclid=") || p === ""))
      val cleanQuery = array_join(array_sort(keep), "&")
      val defaultPort =
        (scheme === "https" && port === "443") ||
        (scheme === "http" && port === "80") || port === ""
      val pathNorm0 = regexp_replace(path, "/+$", "")
      val pathNorm = when(pathNorm0 === "", "/").otherwise(pathNorm0)
      val hostLabels = split(host, "\\.")
      val regDomain = concat_ws(".",
        element_at(hostLabels, -2), element_at(hostLabels, -1))
      staged.select(
        col("doc_id"),
        host.as("host"),
        regDomain.as("registered_domain"),
        (scheme === "https").as("is_https"),
        pathNorm.as("path_norm"),
        size(filter(split(pathNorm, "/"), seg => seg =!= "")).cast("long")
          .as("path_depth"),
        cleanQuery.as("clean_query"),
        concat(scheme, lit("://"), host,
          when(defaultPort, "").otherwise(concat(lit(":"), port)),
          pathNorm,
          when(cleanQuery === "", "").otherwise(concat(lit("?"), cleanQuery)))
          .as("url_norm")
      ).orderBy("doc_id")
    }),

    // corpus statistics per (source, lang)
    "q_text_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("source"), col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars")
        )
        .orderBy("source", "lang")
    }),

    // exact deduplication accounting (hash-groupBy; reference-style
    // `unique` over text, core/dataframe.py:575) — group sizes by text
    // identity, keep min doc_id as the canonical representative
    "q_dedup_exact" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .groupBy(col("n_copies"))
        .agg(count(lit(1)).as("n_groups"), min(col("keep_id")).as("first_keep"))
        .orderBy("n_copies")
    }),

    // token-frequency (word-count) — the canonical explode/flatMap op
    "q_token_freq" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token"))
        .limit(30)
    }),

    // BPE pre-tokenization (GPT-2 split regex, lookahead-free so the
    // identical pattern runs in java.util.regex AND DuckDB's RE2) —
    // the token-budget estimator of a training pipeline; per-doc
    // pre-token count, non-whitespace token count, chars/token
    "q_token_bpe" -> ((s, dir) => {
      import graft.functions.TextFunctions
      val toks = TextFunctions.bpePretokens(col("text"))
      val nTok = size(toks).cast("long")
      val nWord = size(filter(toks, tk => tk.rlike("\\S"))).cast("long")
      t(s, dir, "documents").select(
        col("doc_id"),
        nTok.as("n_pretokens"),
        nWord.as("n_word_tokens"),
        round(length(col("text")).cast("double") / nWord.cast("double"), 6)
          .as("chars_per_token")
      ).orderBy("doc_id")
    }),

    // RAG-style overlapping chunker (long-doc indexing / training
    // windows with context overlap): fixed 32-token windows, stride
    // 24 (8-token overlap), chunk starts from integer math — a pure
    // projection, zero shuffle at any corpus size.
    "q_chunk_overlap" -> ((s, dir) => {
      val W = 32; val S = 24
      val tks = split(col("text"), " ")
      val n = size(tks)
      val nChunks = greatest(
        ceil((n - W).cast("double") / S).cast("int") + 1, lit(1))
      val chunks = transform(sequence(lit(0), nChunks - 1),
        i => array_join(slice(tks, i * S + 1, lit(W)), " "))
      t(s, dir, "documents").select(
          col("doc_id"), n.cast("long").as("n_tokens"),
          nChunks.cast("long").as("n_chunks"),
          aggregate(chunks, lit(0L),
            (acc, c) => acc + length(c).cast("long")).as("chars_total"),
          (n - (nChunks - 1) * S).cast("long").as("last_chunk_tokens"))
        .orderBy("doc_id")
    }),

    // Count-min-sketch heavy hitters: the fixed-memory frequency
    // sketch (Cormode & Muthukrishnan 2005) a streaming/scale pipeline
    // uses where an exact token groupBy's key space doesn't fit —
    // d=4 universal-hash rows x m=256 buckets, estimate = min over
    // rows (deterministic given the hash family, so the DuckDB oracle
    // recomputes sketch AND estimates exactly; overcount >= 0 by
    // construction). Scale shape: the sketch is a 4x256 cell groupBy
    // (bounded regardless of vocabulary); only probe tokens join it.
    "q_heavy_hitters_cms" -> ((s, dir) => {
      import graft.functions.TextFunctions._
      import org.apache.spark.sql.Column
      val M = 256; val D = 4; val TOP = 10
      val toks = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
      def buckets(tok: Column) = array((0 until D).map { j =>
        struct(lit(j).as("j"), (universalHash(j, baseHash(tok)) % M).as("b"))
      }: _*)
      val sketch = toks.select(explode(buckets(col("token"))).as("jb"))
        .groupBy(col("jb.j").as("j"), col("jb.b").as("b"))
        .agg(count(lit(1)).as("c"))
      val exact = toks.groupBy("token").agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("token")).limit(TOP)
      val probes = exact
        .select(col("token"), col("exact_n"),
          explode(buckets(col("token"))).as("jb"))
        .select(col("token"), col("exact_n"),
          col("jb.j").as("j"), col("jb.b").as("b"))
      probes.join(sketch, Seq("j", "b"))
        .groupBy("token", "exact_n").agg(min(col("c")).as("cms_est"))
        .select(col("token"), col("exact_n"), col("cms_est"),
          (col("cms_est") - col("exact_n")).as("overcount"))
        .orderBy(col("exact_n").desc, col("token"))
    }),

    // bigram-LM perplexity filter — the CCNet/KenLM stage of a crawl
    // pipeline (Wenzek et al. 2019 score docs by LM perplexity and
    // keep the fluent tail): an add-alpha-smoothed bigram Markov
    // model trained on the corpus itself, per-doc cross-entropy
    // H = -(1/n) sum log2 p(w2|w1), perplexity = 2^H. Shape at
    // scale: the bigram/context count tables shuffle counts (not
    // text) and stay KEYED joins — a 100 TB corpus's bigram table
    // can be 1e9+ rows, so no broadcast hint (AQE converts when it
    // actually fits); per-doc reduction is one decimal-exact sum.
    "q_bigram_lm" -> ((s, dir) => {
      val tks = split(col("text"), " ")
      // bigram strings from the codegen'd gram kernel (r11), split
      // back into words post-explode — tokens never contain the
      // separator, so substring_index is exact and stays in codegen
      val db = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.TextFunctions.gramStrings(tks, 2)).as("bg"))
        .select(col("doc_id"),
          substring_index(col("bg"), " ", 1).as("w1"),
          substring_index(col("bg"), " ", -1).as("w2"))
      val pair = db.groupBy("w1", "w2").agg(count(lit(1)).as("n2"))
      val ctx = db.groupBy("w1").agg(count(lit(1)).as("n1"))
      val vocab = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .agg(countDistinct(col("w")).as("v"))
      val model = pair.join(ctx, "w1")
      db.join(model, Seq("w1", "w2")).crossJoin(broadcast(vocab))
        .withColumn("__lp",
          -log2((col("n2") + 0.5) / (col("n1") + col("v") * 0.5)))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          r(dsumD(col("__lp")) / count(lit(1)), 6).as("cross_entropy"))
        .select(col("doc_id"), col("n_bigrams"), col("cross_entropy"),
          r(pow(lit(2.0), col("cross_entropy")), 4).as("perplexity"))
        .orderBy("doc_id")
    }),

    // unigram-LM quality score: -mean log2 p(token) under the corpus's
    // own unigram distribution — the classic cheap fluency/outlier
    // signal for corpus filtering (high surprisal = rare-token soup).
    // Shape at scale: one token-frequency aggregation (shuffles token
    // counts, not text), broadcast-joined back to the exploded tokens,
    // then a per-doc decimal-exact mean. No driver data.
    "q_unigram_surprisal" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      val freq = toks.groupBy("token").agg(count(lit(1)).as("tf"))
      val totalDf = freq.agg(sum(col("tf")).as("total"))
      // freq gets no broadcast hint: a 100 TB corpus can carry a
      // 1e8-token vocabulary — the join stays keyed on token and AQE
      // broadcast-converts when the actual vocab is small
      toks.join(freq, "token")
        .crossJoin(broadcast(totalDf))
        .withColumn("__sup",
          -log2(col("tf").cast("double") / col("total").cast("double")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          r(dsum(col("__sup")).cast("double")
            / count(lit(1)).cast("double"), 6).as("mean_surprisal"))
        .orderBy("doc_id")
    }),

    // n-gram shingles (dedup building block, SQL-checkable): distinct
    // 3-gram count per doc
    "q_shingles" -> ((s, dir) => {
      val tokens = split(col("text"), " ")
      t(s, dir, "documents").select(
        col("doc_id"),
        size(tokens).cast("long").as("n_tokens"),
        size(graft.functions.TextFunctions.shingles(col("text"), 3))
          .cast("long").as("n_shingles")
      ).orderBy("doc_id")
    }),

    // Corpus datasheet — the per-(source, lang) release report every
    // training-data drop ships (Datasheets for Datasets, Gebru et al.;
    // the reference's `describe` at dataset granularity): document and
    // token budgets (BPE pre-tokenizer), mean quality signals (char
    // entropy), and the blocklist-hit rate. One groupBy over per-doc
    // zero-shuffle kernel projections; decimal-exact means.
    "q_corpus_report" -> ((s, dir) => {
      val funnel = Seq("hash join", "scan merge", "lorem ipsum")
      val staged = t(s, dir, "documents").select(
        col("source"), col("lang"), col("n_chars"),
        graft.functions.TextFunctions.bpePretokenCount(col("text")).as("__tok"),
        round(graft.functions.TextFunctions.charEntropy(col("text"))
          .getField("entropy"), 6).as("__ent"),
        (size(graft.functions.AhoCorasick.matchedPatternIndices(
          col("text"), funnel)) > 0).cast("long").as("__blocked"))
      staged.groupBy("source", "lang").agg(
        count(lit(1)).as("n_docs"),
        sum(col("__tok")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars_total"),
        // SUM of the 6dp-rounded per-doc entropies, not the mean: the
        // true sum IS a 6dp multiple, so the final ROUND can never sit
        // on a rounding-tie boundary — the mean division produced a
        // cross-engine HALF_UP-vs-double tie at the 7th digit here
        r(dsumD(col("__ent")), 6).as("sum_entropy"),
        sum(col("__blocked")).as("n_blocked"),
        round(sum(col("__blocked")).cast("double") / count(lit(1)), 6)
          .as("blocked_rate"))
        .orderBy("source", "lang")
    }),

    // End-to-end curation funnel over the round-11 operators — the
    // composed pipeline a corpus release runs: blocklist screen
    // (Aho-Corasick), entropy-band quality gate (CharEntropy), NFC
    // canonicalization, then exact dedup on the normalized text.
    // Every stage is a zero-shuffle projection; the only shuffles are
    // the final dedup groupBy and the one-row count aggregate. The
    // oracle recomputes the identical funnel with contains()/
    // histogram/nfc_normalize in DuckDB.
    "q_curation_e2e" -> ((s, dir) => {
      val funnel = Seq("hash join", "scan merge", "lorem ipsum")
      // ONE pass over the corpus: the dedup stage folds into the same
      // aggregate via count_distinct(when(f2, norm)) and the global
      // min over survivors (= min of per-group keep_ids), so the
      // per-doc kernels run once per document, not twice
      val staged = t(s, dir, "documents").select(col("doc_id"), col("text"),
        size(graft.functions.AhoCorasick.matchedPatternIndices(
          col("text"), funnel)).as("__nb"),
        graft.functions.TextFunctions.charEntropy(col("text"))
          .getField("entropy").as("__e"))
        .select(col("doc_id"), col("__nb"),
          round(col("__e"), 6).as("__ent"),
          graft.functions.TextFunctions.nfcNormalize(col("text")).as("__norm"))
      val f1 = col("__nb") === 0
      val f2 = f1 && col("__ent") >= 3.9 && col("__ent") < 4.2
      staged.agg(
          count(lit(1)).as("n_total"),
          sum(f1.cast("long")).as("n_blockclean"),
          sum(f2.cast("long")).as("n_entropy"),
          count_distinct(when(f2, col("__norm"))).as("n_unique"),
          min(when(f2, col("doc_id"))).as("first_keep"))
        .select(col("n_total"), col("n_blockclean"), col("n_entropy"),
          col("n_unique"), col("first_keep"),
          round(col("n_unique").cast("double") / col("n_total"), 6)
            .as("survival_rate"))
    }),

    // HTML boilerplate extraction (the web-corpus main-content pass:
    // trafilatura/jusText capability class, here the regex chain both
    // engines run identically — lookaround-free so java.util.regex
    // and RE2 agree): strip <script> blocks (incl. a '<' inside
    // code), comments, then all tags; collapse whitespace. The page
    // is synthesized deterministically around each doc's text so both
    // engines extract byte-identical inputs. Pure projection — zero
    // shuffle at any corpus size; the extracted text is byte-compared
    // by the oracle (the q_pii_redact discipline).
    "q_html_extract" -> ((s, dir) => {
      val page = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title><script type=\"text/javascript\">var a=1 < 2;var b=\"</div>\";</script></head><body><h1>Doc "),
        col("doc_id").cast("string"), lit("</h1><p>"),
        regexp_replace(col("text"), " the ", " <b>the</b> "),
        lit("</p><div class=\"nav\">nav menu links</div><!-- hidden --></body></html>"))
      val noScript = regexp_replace(page, "<script[^>]*>.*?</script>", " ")
      val noComment = regexp_replace(noScript, "<!--.*?-->", " ")
      val noTags = regexp_replace(noComment, "<[^>]*>", " ")
      val cleanText = trim(regexp_replace(noTags, " +", " "))
      t(s, dir, "documents").select(col("doc_id"), cleanText.as("extracted"))
        .select(col("doc_id"), col("extracted"),
          length(col("extracted")).cast("long").as("n_chars_extracted"),
          (instr(col("extracted"), "<") > 0).cast("long").as("has_markup"))
        .orderBy("doc_id")
    }),

    // Unicode NFC normalization (the canonicalization pass before any
    // hashing/dedup so "é" and "e"+U+0301 fingerprint identically):
    // java.text.Normalizer in a codegen kernel vs DuckDB's
    // utf8proc-backed nfc_normalize — both implement the Unicode
    // standard composition. Denormalized tails are injected
    // deterministically (combining acute / ring / an already-NFC
    // char) so every branch is exercised. Zero shuffle.
    "q_unicode_normalize" -> ((s, dir) => {
      // DECOMPOSED markers (base char + combining mark) for two
      // branches; the third is already-composed U+00E9 (no-op branch)
      val marker = when(col("doc_id") % 3 === 0, lit(" e\u0301 tail"))
        .when(col("doc_id") % 3 === 1, lit(" A\u030A tail"))
        .otherwise(lit(" \u00E9 tail"))
      val raw = concat(col("text"), marker)
      val staged = t(s, dir, "documents").select(col("doc_id"), raw.as("__raw"))
        .select(col("doc_id"), col("__raw"),
          graft.functions.TextFunctions.nfcNormalize(col("__raw")).as("__norm"))
      staged.select(col("doc_id"),
        length(col("__raw")).cast("long").as("n_raw"),
        length(col("__norm")).cast("long").as("n_norm"),
        (col("__norm") =!= col("__raw")).cast("long").as("changed"),
        expr("right(__norm, 6)").as("tail_norm"))
        .orderBy("doc_id")
    }),

    // Compression-ratio quality signal (highly compressible =
    // boilerplate/repetition; near-incompressible = random soup):
    // DEFLATE level 6 over the UTF-8 bytes in a codegen kernel.
    // NOT SQL-expressible (DuckDB has no deflate) -> rows-only driver
    // check; TextKernelExpressionsSpec pins golden values and
    // monotonicity (repetitive text compresses tighter than shuffled
    // text of the same length).
    "q_compress_ratio" -> ((s, dir) => {
      val staged = t(s, dir, "documents").select(col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        graft.functions.TextFunctions.deflateLen(col("text")).as("n_deflate"))
      staged.select(col("doc_id"), col("n_bytes"), col("n_deflate"),
        round(col("n_deflate").cast("double") / col("n_bytes"), 6).as("ratio"))
        .orderBy("doc_id")
    }),

    // Character-entropy quality signal (the classic gibberish /
    // binary-soup detector: low entropy = repeated-char spam, high =
    // random bytes): code-point Shannon entropy per doc via ONE
    // codegen'd kernel pass (graft.functions.CharEntropy) — zero
    // shuffle at any corpus size. The oracle recomputes it the
    // explode/groupBy way in DuckDB; per-term dsumD decimal rounding
    // makes the sum order-free so the two paths agree exactly.
    "q_char_entropy" -> ((s, dir) => {
      val staged = t(s, dir, "documents").select(col("doc_id"),
        graft.functions.TextFunctions.charEntropy(col("text")).as("__e"))
      staged.select(col("doc_id"),
        col("__e.n_chars").as("n_cp"),
        col("__e.n_distinct_chars").as("n_distinct_chars"),
        r(col("__e.entropy"), 6).as("entropy"))
        .orderBy("doc_id")
    }),

    // BM25 top-k retrieval (Robertson-Sparck Jones; Lucene's
    // practical-scoring variant: idf = ln((N-df+0.5)/(df+0.5)+1),
    // k1=1.2, b=0.75) — the retrieval scorer behind RAG corpus search
    // and dedup-by-query mining. Scale shape: tokens filtered to the
    // query vocabulary BEFORE the tf shuffle (the isin pushes into the
    // scan projection), df/avgdl are tiny broadcast aggregates, and
    // the final top-k is a per-query window over only scored docs —
    // nothing global moves. Every arithmetic step is explicitly
    // double-cast and the per-term scores round to 6dp before a
    // decimal-exact sum (the cross-engine float discipline of
    // q_bigram_lm).
    "q_bm25_topk" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val topK = 3
      val qt = {
        import s.implicits._
        Bm25Queries.flatMap { case (q, ts) => ts.map(w => (q.toLong, w)) }
          .toDF("q_id", "w")
      }
      val allTerms = Bm25Queries.flatMap(_._2).distinct
      val docs = t(s, dir, "documents")
      val dl = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("dl"))
      val stats = dl.agg(count(lit(1)).cast("long").as("n_docs"),
        (dsumD(col("dl")) / count(lit(1))).as("avgdl"))
      // per-doc tf vector in ONE codegen'd TermCounts pass (zero
      // shuffle — only (doc, term, tf>0) rows move into the scoring
      // joins), instead of exploding every token of the corpus into a
      // groupBy; values identical to the explode+count formulation
      val termsLit = array(allTerms.map(lit): _*)
      val tf = docs
        .select(col("doc_id"),
          posexplode(org.apache.spark.sql.graftbridge.Bridge.column(
            graft.functions.TermCounts(
              org.apache.spark.sql.graftbridge.Bridge.expression(
                split(col("text"), " ")), allTerms))))
        .where(col("col") > 0)
        .select(col("doc_id"), element_at(termsLit, col("pos") + 1).as("w"),
          col("col").as("tf"))
      val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
      val idf = log(
        (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)) + lit(1.0))
      val denom = col("tf").cast("double") +
        lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / col("avgdl"))
      val term = qt.join(tf, "w").join(broadcast(dfreq), "w")
        .join(dl, "doc_id").crossJoin(broadcast(stats))
        .select(col("q_id"), col("doc_id"),
          r(idf * (col("tf").cast("double") * lit(2.2)) / denom, 6).as("st"))
      val scored = term.groupBy("q_id", "doc_id")
        .agg(count(lit(1)).as("n_terms"), r(dsumD(col("st")), 6).as("score"))
      scored
        .withColumn("rk", row_number().over(
          Window.partitionBy("q_id").orderBy(col("score").desc, col("doc_id"))).cast("long"))
        .where(col("rk") <= topK)
        .select(col("q_id"), col("rk"), col("doc_id"), col("n_terms"), col("score"))
        .orderBy("q_id", "rk")
    }),

    // C4-style blocklist page filter (Raffel et al. 2020 §2.2 "bad
    // words" pass): which blocklist phrases appear in each doc, via
    // ONE Aho-Corasick automaton pass per row instead of k contains()
    // scans — the shape that stays O(text bytes) when the blocklist is
    // hundreds of phrases and the corpus is 100 TB. Multi-word phrases
    // exercise matches across token boundaries; two patterns never in
    // the corpus exercise the clean path. Pure projection, zero
    // shuffle; the oracle recomputes with k contains() probes.
    "q_blocklist_filter" -> ((s, dir) => {
      val staged = t(s, dir, "documents").select(col("doc_id"),
        graft.functions.AhoCorasick.matchedPatternIndices(
          col("text"), BlocklistPatterns).as("__m"))
      staged.select(col("doc_id"),
        concat_ws(",", col("__m").cast("array<string>")).as("matched_csv"),
        size(col("__m")).cast("long").as("n_blocked"),
        (size(col("__m")) > 0).cast("long").as("blocked"))
        .orderBy("doc_id")
    }),

    // C4-style LINE-LEVEL quality filtering (Raffel et al. 2020 §2.2,
    // the standard web-corpus clean): keep lines that end in terminal
    // punctuation, have >= 5 words, and carry no code-ish blocklist
    // token; pages keeping < 3 lines are dropped entirely. The
    // word-soup corpus has no line structure, so a page is synthesized
    // DETERMINISTICALLY from doc_id math (per-doc line width, terminal
    // '.' on every 3rd line, ' javascript' injected on every 7th) —
    // both engines build byte-identical pages, the filter itself is a
    // pure codegen-friendly Column projection (zero shuffle at any
    // corpus size).
    "q_c4_line_filter" -> ((s, dir) => {
      val w = (lit(5) + col("doc_id") % 4).cast("int")
      val tks = split(col("text"), " ")
      val nLines = greatest(
        ceil(size(tks).cast("double") / w.cast("double")).cast("int"), lit(1))
      val lines = transform(sequence(lit(0), nLines - 1), i => {
        val base = array_join(slice(tks, i * w + 1, w), " ")
        val withJs = when((col("doc_id") + i) % 7 === 0,
          concat(base, lit(" javascript"))).otherwise(base)
        when((col("doc_id") + i) % 3 === 0, concat(withJs, lit(".")))
          .otherwise(withJs)
      })
      val kept = filter(lines, l =>
        endswith(l, lit(".")) && size(split(l, " ")) >= 5 &&
          !l.contains("javascript"))
      t(s, dir, "documents").select(
        col("doc_id"),
        size(lines).cast("long").as("n_lines"),
        size(kept).cast("long").as("n_kept"),
        round(size(kept).cast("double") / size(lines).cast("double"), 6)
          .as("kept_frac"),
        length(array_join(kept, "\n")).cast("long").as("n_chars_kept"),
        (size(kept) >= 3).cast("long").as("page_kept"))
        .orderBy("doc_id")
    })
  )

  private val blocklistSqlList =
    BlocklistPatterns.map(p => s"'$p'").mkString("[", ", ", "]")

  private val bm25TermsSql =
    Bm25Queries.flatMap(_._2).distinct.map(w => s"'$w'").mkString(", ")
  private val bm25ValuesSql = Bm25Queries
    .flatMap { case (q, ts) => ts.map(w => s"($q, '$w')") }.mkString(", ")

  val oracleSql: Map[String, String] = Map(
    "q_corpus_report" ->
      (s"""WITH ch AS (
        |  SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS n,
        |    unnest(string_split(text, '')) AS c
        |  FROM documents),
        |hist AS (
        |  SELECT doc_id, n, c, COUNT(*) AS k FROM ch GROUP BY doc_id, n, c),
        |ent AS (
        |  SELECT doc_id, ROUND(${sqlDsum(
             "-(CAST(k AS DOUBLE)/CAST(n AS DOUBLE)) * LOG2(CAST(k AS DOUBLE)/CAST(n AS DOUBLE))")}, 6) AS e
        |  FROM hist GROUP BY doc_id, n),
        |staged AS (
        |  SELECT d.source, d.lang, d.n_chars, ent.e,
        |    CAST(LEN(regexp_extract_all(d.text, '""" +
        graft.functions.TextFunctions.BpePretokenPattern.replace("'", "''") +
        s"""')) AS BIGINT) AS tok,
        |    CAST(contains(d.text, 'hash join') OR contains(d.text, 'scan merge')
        |      OR contains(d.text, 'lorem ipsum') AS BIGINT) AS blocked
        |  FROM documents d JOIN ent ON d.doc_id = ent.doc_id)
        |SELECT source, lang,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(tok) AS BIGINT) AS n_tokens,
        |  CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
        |  ROUND(${sqlDsum("e")}, 6) AS sum_entropy,
        |  CAST(SUM(blocked) AS BIGINT) AS n_blocked,
        |  ROUND(CAST(SUM(blocked) AS DOUBLE) / COUNT(*), 6) AS blocked_rate
        |FROM staged GROUP BY source, lang
        |ORDER BY source, lang""").stripMargin,

    "q_curation_e2e" ->
      s"""WITH ch AS (
        |  SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS n,
        |    unnest(string_split(text, '')) AS c
        |  FROM documents),
        |hist AS (
        |  SELECT doc_id, n, c, COUNT(*) AS k FROM ch GROUP BY doc_id, n, c),
        |ent AS (
        |  SELECT doc_id, ROUND(${sqlDsum(
             "-(CAST(k AS DOUBLE)/CAST(n AS DOUBLE)) * LOG2(CAST(k AS DOUBLE)/CAST(n AS DOUBLE))")}, 6) AS e
        |  FROM hist GROUP BY doc_id, n),
        |staged AS (
        |  SELECT d.doc_id, d.text, nfc_normalize(d.text) AS norm, ent.e,
        |    CAST(contains(d.text, 'hash join') OR contains(d.text, 'scan merge')
        |      OR contains(d.text, 'lorem ipsum') AS INT) AS blocked
        |  FROM documents d JOIN ent ON d.doc_id = ent.doc_id),
        |f AS (
        |  SELECT doc_id, norm, blocked = 0 AS f1,
        |    blocked = 0 AND e >= 3.9 AND e < 4.2 AS f2
        |  FROM staged),
        |u AS (
        |  SELECT norm, MIN(doc_id) AS keep_id FROM f WHERE f2 GROUP BY norm),
        |uc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_unique,
        |  MIN(keep_id) AS first_keep FROM u)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
        |  CAST(SUM(CAST(f1 AS BIGINT)) AS BIGINT) AS n_blockclean,
        |  CAST(SUM(CAST(f2 AS BIGINT)) AS BIGINT) AS n_entropy,
        |  uc.n_unique, uc.first_keep,
        |  ROUND(CAST(uc.n_unique AS DOUBLE) / COUNT(*), 6) AS survival_rate
        |FROM f CROSS JOIN uc
        |GROUP BY uc.n_unique, uc.first_keep""".stripMargin,

    "q_html_extract" ->
      """WITH page AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || doc_id || '</title><script type="text/javascript">var a=1 < 2;var b="</div>";</script></head><body><h1>Doc '
        |    || doc_id || '</h1><p>' || regexp_replace(text, ' the ', ' <b>the</b> ', 'g')
        |    || '</p><div class="nav">nav menu links</div><!-- hidden --></body></html>' AS p
        |  FROM documents),
        |ext AS (
        |  SELECT doc_id, TRIM(regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(p, '<script[^>]*>.*?</script>', ' ', 'g'),
        |        '<!--.*?-->', ' ', 'g'),
        |      '<[^>]*>', ' ', 'g'),
        |    ' +', ' ', 'g')) AS extracted
        |  FROM page)
        |SELECT doc_id, extracted,
        |  CAST(LENGTH(extracted) AS BIGINT) AS n_chars_extracted,
        |  CAST(contains(extracted, '<') AS BIGINT) AS has_markup
        |FROM ext ORDER BY doc_id""".stripMargin,

    "q_unicode_normalize" ->
      """WITH raw AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' e' || chr(769) || ' tail'
        |         WHEN doc_id % 3 = 1 THEN ' A' || chr(778) || ' tail'
        |         ELSE ' ' || chr(233) || ' tail' END AS r
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(LENGTH(r) AS BIGINT) AS n_raw,
        |  CAST(LENGTH(nfc_normalize(r)) AS BIGINT) AS n_norm,
        |  CAST(nfc_normalize(r) != r AS BIGINT) AS changed,
        |  right(nfc_normalize(r), 6) AS tail_norm
        |FROM raw ORDER BY doc_id""".stripMargin,

    "q_char_entropy" ->
      s"""WITH ch AS (
        |  SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS n,
        |    unnest(string_split(text, '')) AS c
        |  FROM documents),
        |hist AS (
        |  SELECT doc_id, n, c, COUNT(*) AS k FROM ch GROUP BY doc_id, n, c),
        |agg AS (
        |  SELECT doc_id, n,
        |    CAST(COUNT(*) AS BIGINT) AS nd,
        |    ROUND(${sqlDsum(
             "-(CAST(k AS DOUBLE)/CAST(n AS DOUBLE)) * LOG2(CAST(k AS DOUBLE)/CAST(n AS DOUBLE))")}, 6) AS ent
        |  FROM hist GROUP BY doc_id, n)
        |SELECT d.doc_id, CAST(LENGTH(d.text) AS BIGINT) AS n_cp,
        |  COALESCE(a.nd, 0) AS n_distinct_chars,
        |  COALESCE(a.ent, 0.0) AS entropy
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q_bm25_topk" ->
      s"""WITH dl AS (
        |  SELECT doc_id, CAST(LEN(string_split(text, ' ')) AS BIGINT) AS dl
        |  FROM documents),
        |stats AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    ${sqlDsum("dl")} / COUNT(*) AS avgdl
        |  FROM dl),
        |tf AS (
        |  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w IN ($bm25TermsSql) GROUP BY doc_id, w),
        |dfq AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY w),
        |qt AS (SELECT * FROM (VALUES $bm25ValuesSql) AS t(q_id, w)),
        |term AS (
        |  SELECT qt.q_id, tf.doc_id,
        |    ROUND((LN((CAST(stats.n_docs AS DOUBLE) - CAST(dfq.df AS DOUBLE) + 0.5)
        |        / (CAST(dfq.df AS DOUBLE) + 0.5) + 1.0)
        |      * (CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE)))
        |      / (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
        |        * (CAST(0.25 AS DOUBLE)
        |          + CAST(0.75 AS DOUBLE) * CAST(dl.dl AS DOUBLE) / stats.avgdl)),
        |      6) AS st
        |  FROM qt JOIN tf USING (w) JOIN dfq USING (w)
        |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats),
        |sc AS (
        |  SELECT q_id, doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
        |    ROUND(${sqlDsum("st")}, 6) AS score
        |  FROM term GROUP BY q_id, doc_id),
        |rnk AS (
        |  SELECT q_id, doc_id, n_terms, score, ROW_NUMBER() OVER
        |    (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rk
        |  FROM sc)
        |SELECT CAST(q_id AS BIGINT) AS q_id, CAST(rk AS BIGINT) AS rk,
        |  doc_id, n_terms, score
        |FROM rnk WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin,
    "q_blocklist_filter" ->
      s"""WITH m AS (
        |  SELECT doc_id, list_filter(range(0, ${BlocklistPatterns.length}),
        |    i -> contains(text, ($blocklistSqlList)[i+1])) AS mi
        |  FROM documents)
        |SELECT doc_id,
        |  COALESCE(array_to_string(mi, ','), '') AS matched_csv,
        |  CAST(LEN(mi) AS BIGINT) AS n_blocked,
        |  CAST(LEN(mi) > 0 AS BIGINT) AS blocked
        |FROM m ORDER BY doc_id""".stripMargin,

    "q_c4_line_filter" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS tks,
        |    CAST(5 + doc_id % 4 AS INT) AS w
        |  FROM documents),
        |ln AS (
        |  SELECT doc_id, list_transform(
        |    range(0, GREATEST(CAST(CEIL(CAST(LEN(tks) AS DOUBLE) / w) AS INT), 1)),
        |    i -> CASE WHEN (doc_id + i) % 3 = 0 THEN
        |           (CASE WHEN (doc_id + i) % 7 = 0
        |              THEN array_to_string(tks[i*w+1 : i*w+w], ' ') || ' javascript'
        |              ELSE array_to_string(tks[i*w+1 : i*w+w], ' ') END) || '.'
        |         ELSE
        |           CASE WHEN (doc_id + i) % 7 = 0
        |              THEN array_to_string(tks[i*w+1 : i*w+w], ' ') || ' javascript'
        |              ELSE array_to_string(tks[i*w+1 : i*w+w], ' ') END
        |         END) AS lines
        |  FROM tk),
        |k AS (
        |  SELECT doc_id, lines, list_filter(lines,
        |    l -> ends_with(l, '.') AND LEN(string_split(l, ' ')) >= 5
        |         AND NOT contains(l, 'javascript')) AS kept
        |  FROM ln)
        |SELECT doc_id,
        |  CAST(LEN(lines) AS BIGINT) AS n_lines,
        |  CAST(LEN(kept) AS BIGINT) AS n_kept,
        |  ROUND(CAST(LEN(kept) AS DOUBLE) / LEN(lines), 6) AS kept_frac,
        |  CAST(COALESCE(LENGTH(array_to_string(kept, chr(10))), 0) AS BIGINT) AS n_chars_kept,
        |  CAST(CASE WHEN LEN(kept) >= 3 THEN 1 ELSE 0 END AS BIGINT) AS page_kept
        |FROM k ORDER BY doc_id""".stripMargin,

    "q_url_normalize" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'HtTp' || CASE WHEN doc_id % 2 = 0 THEN 's' ELSE '' END || '://' ||
        |    CASE WHEN doc_id % 3 = 0 THEN 'WWW.' WHEN doc_id % 3 = 1 THEN 'cdn.' ELSE '' END ||
        |    'site' || (doc_id % 17) || '.Example' || (doc_id % 5) || '.COM' ||
        |    CASE WHEN doc_id % 6 = 0 THEN ':443' ELSE '' END ||
        |    '/Path' || (doc_id % 9) || '/page' ||
        |    CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END ||
        |    CASE WHEN doc_id % 2 = 0 THEN '?utm_source=x&id=' || doc_id
        |         ELSE '?id=' || doc_id || '&utm_campaign=z&b=2' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END AS url
        |  FROM documents),
        |p AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
        |    regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1) AS hostport,
        |    regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path,
        |    regexp_extract(url, '\?([^#]*)', 1) AS query
        |  FROM u),
        |q AS (
        |  SELECT doc_id, scheme,
        |    lower(regexp_extract(hostport, '^([^:]+)', 1)) AS host,
        |    regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
        |    CASE WHEN regexp_replace(path, '/+$', '') = '' THEN '/'
        |         ELSE regexp_replace(path, '/+$', '') END AS path_norm,
        |    array_to_string(list_sort(list_filter(string_split(query, '&'),
        |      t -> NOT (starts_with(t, 'utm_') OR starts_with(t, 'fbclid=')
        |                OR starts_with(t, 'gclid=') OR t = ''))), '&') AS clean_query
        |  FROM p)
        |SELECT doc_id, host,
        |  string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1] AS registered_domain,
        |  scheme = 'https' AS is_https,
        |  path_norm,
        |  CAST(LEN(list_filter(string_split(path_norm, '/'), t -> t <> '')) AS BIGINT) AS path_depth,
        |  clean_query,
        |  scheme || '://' || host ||
        |    CASE WHEN (scheme = 'https' AND port = '443') OR (scheme = 'http' AND port = '80')
        |              OR port = '' THEN '' ELSE ':' || port END ||
        |    path_norm ||
        |    CASE WHEN clean_query = '' THEN '' ELSE '?' || clean_query END AS url_norm
        |FROM q ORDER BY doc_id""".stripMargin,

    "q_text_quality" ->
      """SELECT doc_id,
        |  CAST(LENGTH(text) AS BIGINT) AS n_chars,
        |  CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  ROUND((CAST(LENGTH(text) AS DOUBLE) - (LEN(string_split(text, ' ')) - 1))
        |    / LEN(string_split(text, ' ')), 6) AS mean_wordlen,
        |  CAST(LEN(list_filter(string_split(text, ' '),
        |    t -> list_contains(['the','a','of','and','to'], t))) AS BIGINT) AS n_stop,
        |  ROUND(CAST(LEN(list_filter(string_split(text, ' '),
        |    t -> list_contains(['the','a','of','and','to'], t))) AS DOUBLE)
        |    / LEN(string_split(text, ' ')), 6) AS stop_ratio,
        |  CAST(LEN(list_filter(string_split(text, ' '), t -> LENGTH(t) >= 5)) AS BIGINT) AS n_long_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_stats" ->
      """SELECT source, lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(SUM(LEN(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_dedup_exact" ->
      """WITH g AS (
        |  SELECT text, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |  FROM documents GROUP BY text)
        |SELECT n_copies, COUNT(*) AS n_groups, MIN(keep_id) AS first_keep
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_token_freq" ->
      """SELECT token, COUNT(*) AS freq
        |FROM (SELECT UNNEST(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY 1 ORDER BY freq DESC, token LIMIT 30""".stripMargin,

    "q_chunk_overlap" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |c AS (SELECT doc_id, LEN(t) AS n,
        |  GREATEST(CAST(CEIL(CAST(LEN(t) - 32 AS DOUBLE) / 24) AS INT) + 1, 1)
        |    AS n_chunks, t
        |  FROM tk)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        |  CAST(n_chunks AS BIGINT) AS n_chunks,
        |  CAST(list_sum(list_transform(range(0, n_chunks),
        |    i -> LENGTH(array_to_string(t[i*24+1 : i*24+32], ' ')))) AS BIGINT)
        |    AS chars_total,
        |  CAST(n - (n_chunks - 1) * 24 AS BIGINT) AS last_chunk_tokens
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_heavy_hitters_cms" -> cmsSql,

    "q_bigram_lm" ->
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |g0 AS (SELECT doc_id, UNNEST(range(0, GREATEST(LEN(t) - 1, 0))) AS i, t
         |  FROM tk),
         |db AS (SELECT doc_id, t[i+1] AS w1, t[i+2] AS w2 FROM g0),
         |pair AS (SELECT w1, w2, COUNT(*) AS n2 FROM db GROUP BY 1, 2),
         |ctx AS (SELECT w1, COUNT(*) AS n1 FROM db GROUP BY 1),
         |vc AS (SELECT COUNT(DISTINCT w) AS v FROM
         |  (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)),
         |sc AS (SELECT doc_id, COUNT(*) AS n_bigrams,
         |  ROUND(${sqlDsum("-LOG2((n2 + 0.5) / (n1 + 0.5 * v))")} / COUNT(*), 6)
         |    AS cross_entropy
         |  FROM db JOIN pair USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN vc
         |  GROUP BY doc_id)
         |SELECT doc_id, n_bigrams, cross_entropy,
         |  ROUND(POWER(2.0, cross_entropy), 4) AS perplexity
         |FROM sc ORDER BY doc_id""".stripMargin,

    "q_unigram_surprisal" ->
      s"""WITH toks AS (
         |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents),
         |freq AS (SELECT token, COUNT(*) AS tf FROM toks GROUP BY 1),
         |tot AS (SELECT CAST(SUM(tf) AS DOUBLE) AS total FROM freq)
         |SELECT doc_id, COUNT(*) AS n_tokens,
         |  ROUND(CAST(${sqlDsum("-LOG2(CAST(tf AS DOUBLE) / total)")} AS DOUBLE)
         |    / COUNT(*), 6) AS mean_surprisal
         |FROM toks JOIN freq USING (token) CROSS JOIN tot
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_token_bpe" ->
      ("""SELECT doc_id,
        |  CAST(LEN(tk) AS BIGINT) AS n_pretokens,
        |  CAST(LEN(list_filter(tk, t -> regexp_matches(t, '\S'))) AS BIGINT) AS n_word_tokens,
        |  ROUND(CAST(LENGTH(text) AS DOUBLE)
        |    / LEN(list_filter(tk, t -> regexp_matches(t, '\S'))), 6) AS chars_per_token
        |FROM (SELECT doc_id, text, regexp_extract_all(text, '""" +
        graft.functions.TextFunctions.BpePretokenPattern.replace("'", "''") +
        """') AS tk FROM documents) ORDER BY doc_id""").stripMargin,

    "q_shingles" ->
      """SELECT doc_id,
        |  CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(LEN(list_distinct(CASE WHEN LEN(string_split(text, ' ')) >= 3
        |    THEN list_transform(range(0, LEN(string_split(text, ' ')) - 2),
        |      i -> string_split(text, ' ')[i + 1] || ' ' || string_split(text, ' ')[i + 2] || ' ' || string_split(text, ' ')[i + 3])
        |    ELSE [] END)) AS BIGINT) AS n_shingles
        |FROM documents ORDER BY doc_id""".stripMargin
  )

  /** CMS oracle: sketch rows + probe rows generated per hash-family
    * member j with the same Carter-Wegman constants the Spark side
    * inlines (TextFunctions.uhashA/B). */
  private lazy val cmsSql: String = {
    import Q.sqlUh
    def uh(j: Int, e: String) = sqlUh(j, e)
    def h(tok: String) = s"('0x' || substring(md5($tok), 1, 7))::BIGINT"
    val sketchRows = (0 until 4).map { j =>
      s"SELECT $j AS j, ${uh(j, h("token"))} % 256 AS b FROM toks"
    }.mkString(" UNION ALL ")
    val probeRows = (0 until 4).map { j =>
      s"""SELECT token, exact_n, $j AS j, ${uh(j, h("token"))} % 256 AS b
         |      FROM exact""".stripMargin
    }.mkString(" UNION ALL ")
    s"""WITH toks AS (
       |  SELECT UNNEST(string_split(text, ' ')) AS token FROM documents),
       |sk AS (SELECT j, b, COUNT(*) AS c FROM ($sketchRows) GROUP BY 1, 2),
       |exact AS (SELECT token, COUNT(*) AS exact_n FROM toks
       |  GROUP BY 1 ORDER BY exact_n DESC, token LIMIT 10),
       |pr AS ($probeRows)
       |SELECT pr.token, CAST(pr.exact_n AS BIGINT) AS exact_n,
       |  CAST(MIN(sk.c) AS BIGINT) AS cms_est,
       |  CAST(MIN(sk.c) - pr.exact_n AS BIGINT) AS overcount
       |FROM pr JOIN sk ON sk.j = pr.j AND sk.b = pr.b
       |GROUP BY pr.token, pr.exact_n
       |ORDER BY exact_n DESC, token""".stripMargin
  }
}
