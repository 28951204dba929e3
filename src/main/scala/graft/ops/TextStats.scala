package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType, LongType, StringType, StructField, StructType}

/** Text-analysis operators for training-data pipelines — north-star
  * extension (BASELINE.json): language ID, quality scoring, token
  * counting, document fingerprinting. Everything is built from
  * codegen'd array/string expressions (no UDFs) and integer-exact
  * arithmetic so oracles reproduce values exactly.
  */
object TextStats {

  /** Whitespace tokens (the corpus is single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** Per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Tiny on purpose: the heuristic scores languages by
    * stopword hits and takes a deterministic argmax.
    */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "un"),
    "es" -> Seq("el", "los", "las", "y", "una"),
    "zh" -> Seq("的", "了", "和", "是", "在")
  )

  private def hits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit(_)): _*)))

  /** Language-ID: stopword-hit argmax with fixed precedence order on
    * ties (the declaration order of [[stopwords]]). Emits the score of
    * the winning language too.
    */
  def languageId(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    val withScores = stopwords.foldLeft(
      docs.select(col(idCol).as("doc_id"), toks.as("toks"))) {
      case (df, (lang, words)) => df.withColumn(s"c_$lang", hits(col("toks"), words))
    }
    val langs = stopwords.map(_._1)
    val best = langs.map(l => col(s"c_$l")).reduce((a, b) => greatest(a, b))
    val pred = langs.foldRight(lit(langs.head)) { (l, acc) =>
      when(col(s"c_$l") === best, lit(l)).otherwise(acc)
    }
    withScores.select(col("doc_id"), pred.as("pred_lang"), best.as("n_hits"))
  }

  /** Mixed-language (code-switching) segmentation: [[languageId]]'s
    * stopword argmax applied per NON-OVERLAPPING `window`-token
    * window, then consecutive same-language windows merge into
    * segments — the per-document report that separates genuinely
    * multilingual documents (translations, quote-heavy pages, forum
    * threads) from single-language ones BEFORE a doc-level language
    * label routes them: a doc-level ID over a 50/50 en/de document is
    * confidently wrong either way, and `minority_ppm` is the signal.
    *
    * Same lists, same tie precedence as the doc-level ID (one shared
    * `stopwords` table, so the two can never disagree on a uniform
    * document). Dominant language ties break by window count then
    * list precedence. Docs with no tokens emit nothing (no windows —
    * no evidence).
    *
    * Shape: one posexplode to (doc, window, token); per-window counts
    * partial-aggregate on (doc, win); the run-length pass and the
    * dominant-language pick are doc-keyed windows sharing one
    * exchange. Nothing global anywhere.
    */
  def languageSegments(docs: DataFrame, window: Int = 16,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val langs = stopwords.map(_._1)
    val exploded = docs
      .select(col(idCol).as("doc_id"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .select(col("doc_id"), expr(s"CAST(pos DIV $window AS INT)").as("win"),
        col("tok"))
    val cs = stopwords.map { case (l, ws) =>
      sum(when(col("tok").isin(ws.map(lit(_)): _*), 1L).otherwise(0L))
        .as(s"c_$l")
    }
    val counts = exploded.groupBy("doc_id", "win").agg(cs.head, cs.tail: _*)
    val best = langs.map(l => col(s"c_$l")).reduce((a, b) => greatest(a, b))
    val pred = langs.foldRight(lit(langs.head)) { (l, acc) =>
      when(col(s"c_$l") === best, lit(l)).otherwise(acc)
    }
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("win")
    val marked = counts.select(col("doc_id"), col("win"), pred.as("pred"))
      .withColumn("sw",
        when(lag(col("pred"), 1).over(wOrd).isNotNull &&
          lag(col("pred"), 1).over(wOrd) =!= col("pred"), 1L).otherwise(0L))
      .localCheckpoint() // feeds the run-length agg AND the dominant pick
    val perDoc = marked.groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        (sum(col("sw")) + 1L).as("n_segments"),
        sum(col("sw")).as("n_switches"))
    val prec = langs.zipWithIndex.foldRight(lit(langs.size)) {
      case ((l, i), acc) => when(col("pred") === l, lit(i)).otherwise(acc)
    }
    val wDom = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("cnt").desc, prec)
    val dom = marked.groupBy("doc_id", "pred")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(wDom))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("pred").as("dominant_lang"),
        col("cnt").as("dom_windows"))
    perDoc.join(dom, Seq("doc_id"))
      .withColumn("minority_ppm",
        expr("(n_windows - dom_windows) * 1000000 div n_windows"))
      .select("doc_id", "n_windows", "n_segments", "n_switches",
        "dominant_lang", "dom_windows", "minority_ppm")
  }

  /** Quality metrics: token counts, distinct ratio, average word
    * length, stopword ratio — the length/ratio family used for corpus
    * filtering. Ratios are exact-integer divisions (deterministic).
    */
  def quality(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame = {
    val t = tokens(col(textCol))
    val en = stopwords.head._2
    docs.select(
      col(idCol).as("doc_id"),
      length(col(textCol)).as("n_chars"),
      size(t).as("n_tokens"),
      size(array_distinct(t)).as("n_distinct"),
      (size(array_distinct(t)).cast("double") / size(t)).as("distinct_ratio"),
      ((length(col(textCol)) - size(t) + 1).cast("double") / size(t)).as("avg_word_len"),
      (hits(t, en).cast("double") / size(t)).as("stopword_ratio"))
  }

  /** Per-source readability profile — the Flesch reading-ease shape
    * (Flesch 1948; Kincaid et al. 1975 recalibration) over corpus
    * text, the classic difficulty signal a curriculum or an audience
    * filter consumes. True syllable counting needs a dictionary; the
    * standard approximation (vowel-GROUP count per word) is what
    * public readability tools ship, and at corpus aggregate the bias
    * is stable across sources — which is all a relative ranking needs.
    *
    * Integer-exact by construction so any engine reproduces it: the
    * three per-doc signals are regex-run counts (char-class patterns
    * with identical Java-regex/RE2 semantics — the hygiene-op
    * discipline), per-source ratios are milli-units via integer
    * division of BIGINT sums, and the Flesch combination
    * `206.835 − 1.015·wps − 84.6·spw` is evaluated in milli-space
    * with positive division operands and exact final subtraction.
    * Sentences floor at 1 per doc (headline-only docs), words floor
    * at 1 per source.
    *
    * Shape for scale: one projection + one partial-agged hash
    * aggregate on source; output is source-bounded.
    */
  def readability(docs: DataFrame, textCol: String = "text",
                  srcCol: String = "source"): DataFrame = {
    val t = col(textCol)
    val perDoc = docs.select(col(srcCol).as("source"),
      coalesce(regexp_count(t, lit("[A-Za-z]+")).cast("long"), lit(0L)).as("w"),
      greatest(coalesce(regexp_count(t, lit("[.!?]+")).cast("long"), lit(0L)),
        lit(1L)).as("s"),
      coalesce(regexp_count(t, lit("[aeiouyAEIOUY]+")).cast("long"), lit(0L))
        .as("v"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w")).as("words"),
        sum(col("s")).as("sentences"),
        sum(col("v")).as("vowel_groups"))
      .select(col("source"), col("n_docs"), col("words"), col("sentences"),
        col("vowel_groups"),
        expr("words * 1000 div sentences").as("wps_milli"),
        expr("vowel_groups * 1000 div greatest(words, 1)").as("spw_milli"),
        expr("206835 - (1015 * (words * 1000 div sentences)) div 1000" +
          " - (846 * (vowel_groups * 1000 div greatest(words, 1))) div 10")
          .as("flesch_milli"))
  }

  /** Gopher-style rule gate (Rae et al., "Scaling Language Models:
    * Methods, Analysis & Insights from Training Gopher", 2021, §A1.1):
    * the hard document filters a web-scale corpus applies BEFORE any
    * model-based scoring — word-count bounds, mean-word-length bounds,
    * a minimum count of distinct stopwords, and a minimum fraction of
    * words containing an alphabetic character. Emits the raw signals,
    * one boolean per rule, and the conjunctive `pass`.
    *
    * All arithmetic is integer-exact so any engine reproduces it
    * bit-for-bit: mean word length is micro-units via integer division
    * (`word_chars·1e6 DIV n_words`), the alpha-fraction gate is the
    * cross-multiplied `n_alpha_words·1e6 >= minAlphaPpm·n_words`.
    *
    * Shape for scale: a pure projection — per-row lambda folds over
    * the token array, zero joins, zero shuffles; Catalyst prunes to
    * (id, text).
    */
  def gopherRules(docs: DataFrame,
                  minWords: Int = 50, maxWords: Int = 100000,
                  minMeanLenMicro: Long = 3000000L,
                  maxMeanLenMicro: Long = 10000000L,
                  minStopwords: Int = 2,
                  minAlphaPpm: Long = 800000L,
                  stopwordList: Seq[String] = stopwords.head._2,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val t = tokens(col(textCol))
    val stopLit = array(stopwordList.map(lit): _*)
    docs.select(
        col(idCol).as("doc_id"),
        size(t).as("n_words"),
        aggregate(t, lit(0L), (acc, w) => acc + length(w)).as("word_chars"),
        // array_intersect already returns distinct elements — no
        // pre-distinct needed for the distinct-stopword count
        size(array_intersect(t, stopLit)).as("n_stop"),
        size(filter(t, w => w.rlike("[A-Za-z]"))).as("n_alpha_words"))
      .withColumn("mean_len_micro",
        expr("word_chars * 1000000 DIV n_words"))
      // coalesce(_, false): a null text yields null words/lengths and the
      // rule booleans would stay null — the conjunctive-pass contract says
      // such docs FAIL the gate, and consumers counting pass=false must see
      // them, so every rule (and pass) is three-valued-logic-free.
      .withColumn("ok_words",
        coalesce(col("n_words").between(minWords, maxWords), lit(false)))
      .withColumn("ok_mean_len",
        coalesce(col("mean_len_micro").between(minMeanLenMicro, maxMeanLenMicro),
          lit(false)))
      .withColumn("ok_stop",
        coalesce(col("n_stop") >= minStopwords, lit(false)))
      .withColumn("ok_alpha",
        coalesce(col("n_alpha_words") * 1000000L >= lit(minAlphaPpm) * col("n_words"),
          lit(false)))
      .withColumn("pass",
        col("ok_words") && col("ok_mean_len") && col("ok_stop") && col("ok_alpha"))
  }

  /** GPT-2-style pre-tokenizer pattern, simplified to the RE2-portable
    * subset (no lookahead, explicit classes): an optional leading space
    * glued to a letter run, digit run, or punctuation run; leftover
    * whitespace runs count as their own tokens — the segmentation a
    * byte-pair encoder runs its merges inside.
    */
  val BpeIshPattern: String = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +"

  /** Token counting: whitespace tokens, a BPE-ish REGEX pre-token
    * count ([[BpeIshPattern]] matches via codegen'd `regexp_count`),
    * and the ceil(chars/4) byte-budget estimate (the ~4-chars-per-token
    * rule) — the cheap length signals a budget-aware pipeline needs.
    */
  def tokenCounts(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      size(tokens(col(textCol))).as("n_ws_tokens"),
      size(array_distinct(tokens(col(textCol)))).as("n_distinct_tokens"),
      regexp_count(col(textCol), lit(BpeIshPattern)).cast("long").as("n_bpe_tokens"),
      ceil(length(col(textCol)) / 4.0).cast("long").as("n_bpe_est"))

  /** Per-document tokenizer vocabulary coverage — the audit a pipeline
    * runs BEFORE freezing a tokenizer: how much of each document the
    * vocab fails to cover. OOV = a token occurrence absent from
    * `vocab`; the rate is exact integer ppm (`n_oov·1e6 DIV
    * n_tokens`), identical in any engine.
    *
    * Shape for scale: one explode to skinny (doc, token) rows, a
    * BROADCAST left join against the vocab (dictionary-sized by
    * definition), one partial-agged per-doc hash-agg. Documents with
    * null text tokenize to nothing and emit no row (same contract as
    * the other tokenize passes).
    */
  def vocabCoverage(docs: DataFrame, vocab: DataFrame,
                    idCol: String = "doc_id",
                    textCol: String = "text",
                    vocabCol: String = "token"): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("token"))
    val v = vocab.select(col(vocabCol).as("token")).distinct()
      .withColumn("_in_v", lit(true))
    tok.join(broadcast(v), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("_in_v").isNull, 1)).as("n_oov"))
      .withColumn("oov_ppm", expr("n_oov * 1000000 DIV n_tokens"))
  }

  /** Corpus coverage curve: tokens ranked by occurrence count
    * (desc, token tiebreak), with cumulative occurrences and the exact
    * ppm share of ALL token occurrences — "a top-k vocab covers
    * cum_ppm of the corpus", the curve that sizes a vocabulary.
    *
    * Shape for scale: per-token counts partial-agg before their
    * shuffle; the ranked set is TakeOrdered-capped at `k`, then rank +
    * cumulative sum run DRIVER-SIDE over those k rows (a curve's k is
    * small by construction) — no unpartitioned WindowExec in the plan,
    * so nothing ever funnels the distributed side to one partition (or
    * prints the single-partition warning); the occurrence total is a
    * bounded scalar probe. The ppm share cross-multiplies through
    * BigInt, exact at any corpus size (cum·1e6 overflows a long past
    * ~9e12 occurrences — a real 100 TB corpus).
    */
  def coverageCurve(docs: DataFrame, k: Int,
                    textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = docs.sparkSession
    val tf = docs.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n_occ"))
      .localCheckpoint() // total probe + top-k read one materialization
    val totRow = tf.agg(sum(col("n_occ"))).head()
    // empty corpus: the capped set below is empty too, so the constant
    // never divides anything — 1 just keeps the math well-formed
    val total = if (totRow.isNullAt(0)) BigInt(1) else BigInt(totRow.getLong(0))
    val top = tf.orderBy(col("n_occ").desc, col("token")).limit(k)
      .select("token", "n_occ").collect() // bounded: k rows
    var cum = 0L
    val rows = top.zipWithIndex.map { case (r, i) =>
      cum += r.getLong(1)
      Row(i + 1, r.getString(0), r.getLong(1), cum,
        (BigInt(cum) * 1000000 / total).toLong)
    }
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(
        StructField("rank", IntegerType, nullable = false),
        StructField("token", StringType),
        StructField("n_occ", LongType, nullable = false),
        StructField("cum_occ", LongType, nullable = false),
        StructField("cum_ppm", LongType, nullable = false))))
  }

  /** Document fingerprints: whole-document content hash (md5 of the
    * whitespace-normalized text) and a rolling shingle fingerprint —
    * the lexicographic minimum md5 over word-3-gram shingles (a
    * 1-permutation MinHash, the standard near-dup fingerprint).
    */
  def fingerprint(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      md5(regexp_replace(col(textCol), "\\s+", " ")).as("content_fp"),
      // native one-pass shingle minimum (the transform/sequence lambda
      // form is interpreted per shingle; same values — see the
      // expression's parity note)
      graft.functions.ShingleMinHash(tokens(col(textCol))).as("shingle_fp"))

  /** Duplicated-span screen (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL 2022 — the substring-level
    * pass exact document dedup misses): for every document, the
    * fraction of its `windowLen`-token sliding windows whose text also
    * occurs in at least `minDocs` distinct documents. High `dup_frac`
    * marks boilerplate-heavy pages (shared headers, licence blocks,
    * templated spans) that survive whole-document dedup because the
    * surrounding text differs.
    *
    * Window identity is the 64-bit hash of the window text, so the
    * corpus-wide pass moves 8-byte keys, never window strings
    * (collisions perturb counts at ~W²/2^65 — negligible at any
    * realistic window count, the same trade the contamination screen
    * makes). Dataflow: one explode to (doc, window-hash); the
    * duplicated-hash set is a distinct + count over those skinny pairs
    * (both hash-aggs, map-side partials); per-doc window totals come
    * straight off the token count (a scan-side expression, no second
    * corpus pass); the final per-doc dup count is a semi-join of the
    * skinny pair table against the duplicated-hash set. Raw documents
    * shuffle nowhere.
    */
  def duplicateSpans(docs: DataFrame, windowLen: Int = 8, minDocs: Int = 2,
                     idCol: String = "doc_id",
                     textCol: String = "text",
                     winIndex: Option[DataFrame] = None): DataFrame = {
    require(windowLen >= 1, "windowLen must be >= 1")
    require(minDocs >= 2, "minDocs must be >= 2")
    val t = tokens(col(textCol))
    // native one-pass window hasher (xxhash64-parity spec-pinned); the
    // interpreted chain form lives in [[windowHashChain]] for the spec.
    // Materialized once (the bm25 tf-reuse move): both the duplicated-
    // hash aggregate and the per-doc dup-count join consume it, and
    // without the checkpoint the tokenize+hash+explode scan runs twice.
    // `winIndex` = a pre-materialized positional (doc_id, i, h) index
    // from the SAME (windowLen, tokenizer) config — the shared-memo
    // seam (doc_tf discipline): this op and [[removeDuplicateSpans]]
    // hash identical windows, so a session running both tokenizes once.
    val w = winIndex.map(_.select(col("doc_id"), col("h"))).getOrElse(
      docs.select(col(idCol).as("doc_id"),
          explode(graft.functions.WindowHashes(t, windowLen)).as("h"))
        .localCheckpoint())
    // hashes seen in >= minDocs distinct docs: distinct pairs first,
    // then a plain count — two cascading hash-aggs, no Expand
    val dup = w.distinct()
      .groupBy("h").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("h")
    val perDoc = docs.select(col(idCol).as("doc_id"),
      when(size(t) >= windowLen, (size(t) - (windowLen - 1)).cast("long"))
        .otherwise(lit(0L)).as("n_windows"))
      .filter(col("n_windows") > 0)
    val dupPerDoc = w.join(dup, Seq("h"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    perDoc.join(dupPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_windows"),
        (coalesce(col("n_dup"), lit(0L)).cast("double") / col("n_windows"))
          .as("dup_frac"))
  }

  /** Collocation extraction — top bigrams by pointwise mutual
    * information (Church & Hanks, CL 1990: PMI = log p(xy)/(p(x)p(y))
    * — the lexical-association statistic behind phrase vocabularies
    * and tokenizer merge seeding). log is monotone, so ranking by the
    * EXACT integer lift `c_xy * N * 10⁶ div (c_x * c_y)` (DECIMAL(38)
    * intermediates, integral divide) orders identically to PMI while
    * staying engine-bit-exact — no float, no log. `minCount` drops
    * the classic PMI pathology (hapax pairs score highest).
    *
    * Shape: two token-keyed hash-aggregates (unigrams, bigrams), the
    * 1-row total broadcast onto the plan, two equi-joins of bigrams
    * against the unigram table (vocab-sized — never broadcast), then
    * TakeOrdered k. No windows, no explode beyond the gram builders.
    */
  def collocations(docs: DataFrame, minCount: Long = 5L, k: Int = 20,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val t = tokens(col(textCol))
    val uni = docs.select(explode(t).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val total = uni.agg(sum(col("c")).as("n_total"))
    val bi = docs.select(explode(graft.functions.WordNgrams(t, 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount)
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
    bi.join(uni.select(col("tok").as("w1"), col("c").as("c_x")), Seq("w1"))
      .join(uni.select(col("tok").as("w2"), col("c").as("c_y")), Seq("w2"))
      .join(broadcast(total))
      .withColumn("lift_ppm",
        expr("(CAST(c_xy AS DECIMAL(38,0)) * n_total * 1000000) div " +
          "(CAST(c_x AS DECIMAL(38,0)) * c_y)"))
      .select("bigram", "c_xy", "c_x", "c_y", "lift_ppm")
      .orderBy(col("lift_ppm").desc, col("bigram"))
      .limit(k)
  }

  /** DOCUMENT-level co-occurrence associations — the non-adjacent
    * sibling of [[collocations]] (Church & Hanks' other table):
    * which token PAIRS co-occur in the same document more often than
    * their document frequencies predict, ranked by the exact integer
    * lift `n_xy·N·10⁶ div (n_x·n_y)` over DOCUMENT counts (monotone
    * in document-level PMI). Adjacent bigrams find phrases; this
    * finds topical structure — the co-occurrence graph topic models
    * and word-association features start from.
    *
    * The quadratic pair explosion is tamed the standard way: pairs
    * are built only over the `topVocab` highest-document-frequency
    * tokens (broadcast), so the per-document self-join emits at most
    * C(topVocab, 2) pairs regardless of document length — corpus cost
    * is linear, pair space is constant. Two tokenize scans (vocab
    * census, then the vocab-filtered pair build) — deliberately NOT a
    * checkpoint of the corpus-sized (doc, token) frame.
    */
  def cooccurrence(docs: DataFrame, topVocab: Int = 30,
                   minPairDocs: Long = 5L, k: Int = 30,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    require(topVocab >= 2 && k >= 1, "topVocab must be >= 2, k >= 1")
    val nDocs = docs.filter(col(textCol).isNotNull).count()
    val dtok = array_distinct(tokens(col(textCol)))
    val topv = docs.select(explode(dtok).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n_t"))
      .orderBy(col("n_t").desc, col("tok")).limit(topVocab)
    val dv = docs.select(col(idCol).as("doc_id"), explode(dtok).as("tok"))
      .join(broadcast(topv), Seq("tok"))
    val x = dv.select(col("doc_id"), col("tok").as("w1"), col("n_t").as("nx"))
    val y = dv.select(col("doc_id"), col("tok").as("w2"), col("n_t").as("ny"))
    x.join(y, Seq("doc_id")).filter(col("w1") < col("w2"))
      .groupBy("w1", "w2")
      .agg(count(lit(1)).as("n_xy"),
        first(col("nx")).as("n_x"), first(col("ny")).as("n_y"))
      .filter(col("n_xy") >= minPairDocs)
      .withColumn("lift_ppm",
        expr(s"(CAST(n_xy AS DECIMAL(38,0)) * ${nDocs}L * 1000000) div " +
          "(CAST(n_x AS DECIMAL(38,0)) * n_y)"))
      .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Corpus diversity report — the Distinct-n metric of Zhu et al.
    * ("Texygen", SIGIR 2018; Li et al. NAACL 2016's distinct-1/2
    * before it), the standard scalable answer to "how repetitive is
    * this corpus": for each n-gram order, total occurrences, distinct
    * n-grams, n-grams shared across >= 2 documents, and the exact ppm
    * ratios (distinct/total = diversity; shared/distinct = cross-doc
    * repetition mass). Low distinct_ppm at n=2,3 is the template/
    * boilerplate smell a generation- or crawl-heavy corpus shows
    * before dedup pays for itself.
    *
    * Scale shape: per order, one explode over the native gram builder
    * + two cascading hash-aggregates (gram×doc, then gram) — the
    * topNgrams dataflow with the limit replaced by a 1-row rollup;
    * output is maxN rows. Grams hash to the aggregates; no joins.
    */
  def distinctNgramStats(docs: DataFrame, maxN: Int = 3,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    require(maxN >= 1, "maxN must be >= 1")
    val t = tokens(col(textCol))
    // ONE corpus scan for every n: each doc emits its 1..maxN gram
    // streams tagged with n (the per-n loop used to tokenize and scan
    // the corpus maxN times); the aggregation tree is unchanged, just
    // keyed by (n, g) instead of run per n. Same rows, same values —
    // n is part of the key everywhere. Tagging rides TWO stacked
    // generators — posexplode over the array-of-gram-arrays (n = slot
    // index + 1), then a plain gram explode — because the one-explode
    // form (transform each gram into a (n, g) struct, concat, explode)
    // pays an INTERPRETED lambda per gram: higher-order functions stay
    // outside whole-stage codegen (guide §4.1: prefer codegen'd
    // built-ins on the hot path). Measured isolated min-of-3 at sf0.1:
    // 3.58 -> 3.26 s — the gram hash-aggregate dominates either way,
    // but the generator form does strictly less per-element work.
    val tagged = docs.select(col(idCol).as("doc_id"),
        posexplode(array((1 to maxN).map(n =>
          graft.functions.WordNgrams(t, n)): _*)).as(Seq("n0", "ga")))
      .select(col("doc_id"), (col("n0") + 1).cast("int").as("n"),
        explode(col("ga")).as("g"))
    tagged
      .groupBy("n", "g", "doc_id").agg(count(lit(1)).as("c"))
      .groupBy("n", "g").agg(sum(col("c")).as("occ"), count(lit(1)).as("nd"))
      .groupBy("n").agg(
        sum(col("occ")).as("total_ngrams"),
        count(lit(1)).as("distinct_ngrams"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("shared_ngrams"))
      .select(col("n"), col("total_ngrams"), col("distinct_ngrams"),
        col("shared_ngrams"),
        expr("distinct_ngrams * 1000000 div nullif(total_ngrams, 0)")
          .as("distinct_ppm"),
        expr("shared_ngrams * 1000000 div nullif(distinct_ngrams, 0)")
          .as("shared_ppm"))
  }

  /** Lexical retrieval by distinct-token overlap: for each query
    * document, the `k` corpus documents sharing the most distinct
    * tokens — the candidate generator on the lexical side of a hybrid
    * (lexical + dense) retrieval stack. The QUERY side is the small
    * side by construction (a query batch) and broadcasts; candidates
    * meet it by term equi-join and hash-aggregate to overlap counts —
    * corpus-side cost scales with posting activity of the query
    * terms, never with corpus size. Exact integer counts; ranking
    * (shared desc, cand_id) is engine-deterministic.
    */
  def tokenOverlapTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val q = queries.select(col(idCol).as("query_id"),
      explode(array_distinct(tokens(col(textCol)))).as("term"))
    val cand = corpus.select(col(idCol).as("cand_id"),
      explode(array_distinct(tokens(col(textCol)))).as("term"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("shared").desc, col("cand_id"))
    cand.join(broadcast(q), Seq("term"))
      .filter(col("cand_id") =!= col("query_id"))
      .groupBy("query_id", "cand_id").agg(count(lit(1)).as("shared"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Vocabulary growth curve — the Heaps'-law audit (Heaps 1978;
    * Herdan before him: vocabulary grows ~ K·N^β): split the corpus
    * into `buckets` equal id ranges, and per bucket report token
    * volume, NEW types (tokens whose first occurrence falls in this
    * bucket), and the cumulative type/token numbers — the curve that
    * says whether a corpus keeps contributing new vocabulary as it
    * grows, or has gone asymptotic (at which point more of the same
    * source buys tokens, not coverage). The cumulative type-token
    * ratio is exact ppm.
    *
    * Scale shape: ONE tokenize scan into per-(bucket, term) counts
    * (partial-agged); "first bucket" is a vocab-sized re-agg (min
    * bucket per term); per-bucket doc/token volume is a second
    * 2-column pruned scan. The cumulative step is a triangular join
    * over the `buckets`-row frame — broadcast, O(buckets²) rows,
    * never a single-partition window. Output: `buckets` rows.
    */
  def vocabGrowth(docs: DataFrame, buckets: Int = 10,
                  idCol: String = "doc_id",
                  textCol: String = "text",
                  sharedTf: Option[DataFrame] = None): DataFrame = {
    require(buckets >= 1, "buckets must be >= 1")
    val maxId = docs.agg(max(col(idCol)).cast("long")).head().getLong(0)
    val b = expr(s"CAST($idCol AS BIGINT) * $buckets div ${maxId + 1}")
    // scan 1: per-(bucket, term) counts -> bucket token volume + each
    // term's first bucket. A caller holding the corpus-level (doc_id,
    // term, c) memo passes it in: bucketing is a function of doc_id, so
    // the per-bucket counts fold FROM the memo (sum of per-doc counts)
    // without re-tokenizing the corpus — the explode is this query's
    // dominant cost, and it is the same explode the retrieval trio
    // already materialized once.
    val tf = sharedTf.map(stf =>
        stf.groupBy(
            expr(s"CAST($idCol AS BIGINT) * $buckets div ${maxId + 1}")
              .as("bucket"), col("term"))
          .agg(sum(col("c")).as("c")))
      .getOrElse(docs.select(b.as("bucket"),
          explode(tokens(col(textCol))).as("term"))
        .groupBy("bucket", "term").agg(count(lit(1)).as("c"))
        .localCheckpoint())
    val vol = tf.groupBy("bucket").agg(sum(col("c")).as("n_tokens"))
    val news = tf.groupBy("term").agg(min(col("bucket")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("new_types"))
    // scan 2 (id column only): docs per bucket
    val nd = docs.select(b.as("bucket")).groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"))
    val per = nd.join(vol, Seq("bucket"), "left")
      .join(news, Seq("bucket"), "left")
      .select(col("bucket"), col("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .localCheckpoint() // feeds both sides of the triangular join
    val prior = per.select(col("bucket").as("b2"),
      col("n_tokens").as("t2"), col("new_types").as("y2"))
    per.join(broadcast(prior), col("b2") <= col("bucket"))
      .groupBy("bucket")
      .agg(first(col("n_docs")).as("n_docs"),
        first(col("n_tokens")).as("n_tokens"),
        first(col("new_types")).as("new_types"),
        sum(col("t2")).as("cum_tokens"),
        sum(col("y2")).as("cum_types"))
      .withColumn("ttr_ppm",
        expr("cum_types * 1000000 div nullif(cum_tokens, 0)"))
      .orderBy("bucket")
  }

  /** Line-level boilerplate removal — the CCNet-shaped cleanup
    * (Wenzek et al., "CCNet: Extracting High Quality Monolingual
    * Datasets from Web Crawl Data", LREC 2020, whose pipeline drops
    * lines duplicated across documents: headers, footers, cookie
    * banners, nav bars). Every line (split on `\n`) that occurs in
    * >= `minDocs` DISTINCT documents is deleted from every document;
    * the survivors rejoin in original order.
    *
    * Dataflow (the [[removeDuplicateSpans]] discipline — document
    * text never shuffles): one posexplode to (doc, pos, line-md5) —
    * fixed-width keys, never line strings; the common-line set is a
    * distinct-doc count + filter, SMALL by construction (boilerplate
    * is high-frequency/low-cardinality, that is what makes it
    * boilerplate), so membership is a BROADCAST semi-join; drop
    * positions regroup into one skinny per-doc int array that joins
    * back to the corpus scan, and reconstruction is a two-arg
    * `filter((line, i) => ...)` + `array_join` pure projection.
    *
    * Output per input document: `n_lines`, `n_dropped`, and
    * `clean_text` (NULL when the input text is NULL or every line was
    * boilerplate — an all-boilerplate doc has no content left, and
    * the NULL is the drop-me signal downstream gates key on).
    */
  def removeBoilerplateLines(docs: DataFrame, minDocs: Int = 2,
                             idCol: String = "doc_id",
                             textCol: String = "text"): DataFrame = {
    require(minDocs >= 2, "minDocs must be >= 2")
    val lines = split(col(textCol), "\n")
    val ldf = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        posexplode(lines).as(Seq("pos", "line")))
      .select(col("doc_id"), col("pos"), md5(col("line")).as("h"))
      .localCheckpoint() // feeds the common-line count AND the position map
    val common = ldf.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("h")
    val drops = ldf.join(broadcast(common), Seq("h"), "left_semi")
      .groupBy("doc_id")
      .agg(collect_list(col("pos")).as("drop_pos"))
    val nLines = when(col(textCol).isNull, lit(0L))
      .otherwise(size(lines).cast("long"))
    val nDropped = coalesce(size(col("drop_pos")), lit(0)).cast("long")
    docs.select(col(idCol).as("doc_id"), col(textCol))
      .join(drops, Seq("doc_id"), "left")
      .select(col("doc_id"),
        nLines.as("n_lines"),
        nDropped.as("n_dropped"),
        when(col(textCol).isNull || (nDropped === nLines && nLines > 0), lit(null))
          .otherwise(array_join(
            filter(lines, (x, i) =>
              !array_contains(coalesce(col("drop_pos"),
                array().cast("array<int>")), i)),
            "\n")).as("clean_text"))
  }

  /** Exact duplicated-span REMOVAL — the cleanup step behind the
    * [[duplicateSpans]] report (the "exact substring deduplication" of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL 2022 — there via a corpus suffix array; here via the
    * same windowed-hash machinery the report already uses, which keeps
    * the whole pass in hash-joins a cluster can run at any scale).
    * Every `windowLen`-token window whose text occurs in >= `minDocs`
    * distinct documents is deleted from EVERY document containing it:
    * a token survives iff no duplicated window covers its position.
    * Output: one row per input document with the original token count,
    * the number of tokens removed, and the cleaned text.
    *
    * Dataflow: one posexplode to (doc, start, window-hash) — 8-byte
    * keys, never window strings — materialized once for its two
    * consumers; the duplicated-hash set is the same distinct + count
    * cascade as [[duplicateSpans]]; covered token positions come from
    * exploding each duplicated window into its `windowLen` positions
    * (bounded by windowLen x dup-window count, skinny); reconstruction
    * is ONE shuffle of per-doc position arrays joined back to the
    * corpus scan — document text itself never shuffles. Documents
    * shorter than `windowLen` tokens pass through unchanged.
    */
  def removeDuplicateSpans(docs: DataFrame, windowLen: Int = 8,
                           minDocs: Int = 2,
                           idCol: String = "doc_id",
                           textCol: String = "text",
                           winIndex: Option[DataFrame] = None): DataFrame = {
    require(windowLen >= 1, "windowLen must be >= 1")
    require(minDocs >= 2, "minDocs must be >= 2")
    val t = tokens(col(textCol))
    // `winIndex`: see [[duplicateSpans]] — the shared positional
    // (doc_id, i, h) window index both span ops read when memoized
    val w = winIndex.getOrElse(
      docs.select(col(idCol).as("doc_id"),
          posexplode(graft.functions.WindowHashes(t, windowLen)))
        .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("h"))
        .localCheckpoint())
    val dup = w.select("doc_id", "h").distinct()
      .groupBy("h").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("h")
    val covered = w.join(dup, Seq("h"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + (windowLen - 1))).as("p"))
      .distinct()
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("p"))).as("_cov"))
    docs.select(col(idCol).as("doc_id"), t.as("_ts"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("_ts")).cast("long").as("n_tokens"),
        coalesce(size(col("_cov")), lit(0)).cast("long").as("n_removed"),
        concat_ws(" ",
          transform(
            filter(sequence(lit(1), size(col("_ts"))),
              p => !array_contains(
                coalesce(col("_cov"), array().cast("array<int>")), p)),
            p => element_at(col("_ts"), p))).as("clean_text"))
  }

  /** Phrase search over a POSITIONAL inverted index — the IR-engine
    * move: instead of scanning every document's text for each phrase,
    * tokenize the corpus ONCE into (token, doc, position) postings and
    * answer a k-term phrase with k-1 equi-joins over the k matching
    * posting lists (term j must sit at anchor + j). At 100 TB the
    * postings table is the pre-built index (bucketed by token so each
    * probe reads only its terms' buckets); a probe's cost scales with
    * the matched terms' posting sizes, not the corpus. Occurrences may
    * overlap (each anchor position counts once) — same contract as a
    * sequential text scan. Output: (phrase, doc_id, n_hits) for
    * documents with at least one occurrence.
    */
  def phraseSearch(docs: DataFrame, phrases: Seq[String],
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    require(phrases.nonEmpty, "need at least one phrase")
    require(phrases.forall(_.split(" ").forall(_.nonEmpty)),
      "phrases must be single-space-separated non-empty tokens")
    val postings = docs.select(col(idCol).as("doc_id"),
        posexplode(tokens(col(textCol))))
      .select(col("doc_id"), col("pos"), col("col").as("tok"))
      .localCheckpoint()
    val perPhrase = phrases.map { phrase =>
      val terms = phrase.split(" ").toSeq
      val anchor = postings.filter(col("tok") === terms.head)
        .select(col("doc_id"), col("pos").as("p0"))
      val matched = terms.zipWithIndex.drop(1).foldLeft(anchor) {
        case (acc, (term, off)) =>
          acc.join(
            postings.filter(col("tok") === term)
              .select(col("doc_id"), (col("pos") - off).as("p0")),
            Seq("doc_id", "p0"))
      }
      matched.groupBy("doc_id")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(phrase).as("phrase"), col("doc_id"), col("n_hits"))
    }
    perPhrase.reduce(_.unionByName(_))
  }

  /** Interpreted HOF twin of [[graft.functions.WindowHashes]] — the
    * executable spec its xxhash64 parity is pinned against (the token
    * array materializes in its own projection so the window lambda
    * reads a bound column instead of re-splitting per window).
    */
  private[graft] def windowHashChain(docs: DataFrame, windowLen: Int,
                                     idCol: String,
                                     textCol: String): DataFrame = {
    val t = tokens(col(textCol))
    val wins = when(size(col("_t")) >= windowLen,
      transform(sequence(lit(1), size(col("_t")) - (windowLen - 1)),
        i => xxhash64(concat_ws(" ", slice(col("_t"), i, lit(windowLen))))))
      .otherwise(array().cast("array<bigint>"))
    docs.select(col(idCol).as("doc_id"), t.as("_t"))
      .select(col("doc_id"), explode(wins).as("h"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson, Aiken, "Winnowing:
    * Local Algorithms for Document Fingerprinting", SIGMOD 2003 — the
    * MOSS sketch): md5 each word `k`-gram, slide a window of `w`
    * consecutive gram hashes, keep the (lexicographic) minimum per
    * window, and emit the distinct selected hashes per document.
    * Winnowing guarantees any shared run of at least `w + k - 1`
    * tokens contributes a shared fingerprint — the position-robust
    * substring sketch behind plagiarism/mirror detection, with sketch
    * density ~2/(w+1) of the gram count.
    *
    * Fingerprints are md5 hex strings (identical bytes in any engine,
    * so sketches match across systems — the property that lets a
    * Spark-built index serve a non-Spark lookup side). One scan,
    * per-document array expressions only, no shuffle before the
    * per-doc distinct explode; output is one (doc_id, fingerprint)
    * row per selected hash.
    */
  def winnow(docs: DataFrame, k: Int = 3, w: Int = 4,
             idCol: String = "doc_id",
             textCol: String = "text"): DataFrame = {
    require(k >= 1 && w >= 1, "k and w must be >= 1")
    // native one-pass kernel (gram md5s + monotonic-deque window min +
    // distinct/sort); bit-parity with the interpreted HOF chain is
    // pinned in OpsSpec
    docs.select(col(idCol).as("doc_id"),
      explode(graft.functions.WinnowFingerprints(
        tokens(col(textCol)), k, w)).as("fingerprint"))
  }

  /** The interpreted HOF form of [[winnow]]'s per-document kernel —
    * kept as the executable spec the native expression is
    * parity-tested against (the gram array materializes in its own
    * projection: the window lambda references it per ELEMENT, so
    * inlining would re-md5 the whole array once per window — O(G²)).
    */
  private[graft] def winnowChain(docs: DataFrame, k: Int, w: Int,
                                 idCol: String, textCol: String): DataFrame = {
    val t = tokens(col(textCol))
    val grams = when(size(t) >= k,
      transform(sequence(lit(1), size(t) - (k - 1)),
        i => md5(concat_ws(" ", slice(t, i, lit(k))))))
      .otherwise(array().cast("array<string>"))
    val fps = when(size(col("g")) >= w,
      array_sort(array_distinct(
        transform(sequence(lit(1), size(col("g")) - (w - 1)),
          j => array_min(slice(col("g"), j, lit(w)))))))
      .otherwise(array().cast("array<string>"))
    docs.select(col(idCol).as("doc_id"), grams.as("g"))
      .select(col("doc_id"), explode(fps).as("fingerprint"))
  }

  /** Corpus n-gram statistics: the `k` most frequent word n-grams with
    * total occurrences and document frequency — the corpus-stats pass
    * behind vocabulary building and contamination screening. One
    * explode + two cascading hash-aggs — (ngram, doc_id) partials then
    * per-ngram totals — which computes the document frequency WITHOUT
    * the Expand duplication a fused `count + countDistinct` aggregate
    * plans (Expand doubles every exploded row before the first
    * shuffle); the top-k sort runs on the AGGREGATED result (one row
    * per distinct n-gram), never on raw data. Ties break on the n-gram
    * string so the result is deterministic across engines.
    */
  def topNgrams(docs: DataFrame, n: Int, k: Int,
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    require(n >= 1 && k >= 1, "n and k must be >= 1")
    val t = tokens(col(textCol))
    // native gram builder (short docs yield an empty array — no
    // fabricated grams; concat_ws byte parity is spec-pinned)
    val grams = graft.functions.WordNgrams(t, n)
    docs.select(col(idCol).as("doc_id"), explode(grams).as("ngram"))
      .groupBy("ngram", "doc_id")
      .agg(count(lit(1)).as("c"))
      .groupBy("ngram")
      .agg(sum(col("c")).as("n_occurrences"),
        count(lit(1)).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("ngram"))
      .limit(k)
  }

  /** Context-window chunking: split each document into token windows
    * of `size` advancing by `stride` (overlapping when stride < size)
    * — the packing pass that turns documents into model-ready
    * sequences. One explode, no shuffle; the final short window is
    * kept (standard practice) and every token appears in at least one
    * chunk. Emits (doc_id, chunk_idx, chunk_text, n_tokens).
    */
  def chunk(docs: DataFrame, chunkSize: Int, stride: Int,
            idCol: String = "doc_id",
            textCol: String = "text"): DataFrame = {
    require(chunkSize >= 1 && stride >= 1 && stride <= chunkSize,
      s"need 1 <= stride ($stride) <= chunkSize ($chunkSize)")
    val t = tokens(col(textCol))
    // chunk indices 0..ceil(n/stride)-1; window i covers tokens
    // [i*stride+1, i*stride+chunkSize]. A null text propagates null
    // through size/ceil/sequence, so explode emits NOTHING for it —
    // matching the oracle's empty range(0, NULL). (No empty-array
    // guard needed: Spark's split never returns an empty array.)
    val idxs = sequence(lit(0),
      ceil(size(t).cast("double") / stride).cast("int") - 1)
    docs.select(col(idCol).as("doc_id"), t.as("_toks"),
        explode(idxs).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        concat_ws(" ",
          slice(col("_toks"), col("chunk_idx") * stride + 1, lit(chunkSize))).as("chunk_text"),
        least(lit(chunkSize),
          size(col("_toks")) - col("chunk_idx") * stride).as("n_tokens"))
  }

  /** Benchmark-contamination screen: flag corpus documents sharing at
    * least `minShared` word n-grams with any document of a (small)
    * benchmark set — the decontamination pass run before training so
    * eval data does not leak into the corpus.
    *
    * Dataflow for scale: the BENCHMARK side is the small one by
    * definition, so its exploded n-gram set is broadcast; the corpus
    * streams through one explode + broadcast-hash-join + count
    * aggregate, never shuffling full documents. Output is one row per
    * contaminated (doc, benchmark doc) pair with the shared-gram
    * count; clean docs produce no row.
    */
  def contamination(corpus: DataFrame, benchmark: DataFrame,
                    n: Int = 3, minShared: Int = 2,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    def grams(df: DataFrame, outId: String): DataFrame = {
      val t = tokens(col(textCol))
      // join key is the n-gram's 64-bit hash, not the gram string:
      // the corpus side explodes one row per gram, and 8-byte long
      // keys make that explode, the broadcast table, and the hash
      // probe all cheaper than ~n-token strings (measured ~10% at
      // sf0.1 even single-node; the gap widens with gram width and
      // corpus size). The gram string is still built per element —
      // slice+concat_ws vectorizes better than n element_at calls —
      // but dies inside the hash, never materializing in a row.
      // Collisions merge two gram identities: P ~ G²/2^65 — even at
      // 10^12 distinct grams that perturbs a handful of overlap
      // counts by ±1, the standard trade every sketch-based
      // decontamination pass (MinHash, Bloom) already makes.
      // native sliding-window hasher (xxhash64 parity spec-pinned);
      // distinct n-grams per doc: shared-gram counts are set overlaps,
      // not occurrence products
      val g = graft.functions.WindowHashes(t, n)
      df.select(col(idCol).as(outId), explode(array_distinct(g)).as("gram_h"))
    }
    grams(corpus, "doc_id")
      .join(broadcast(grams(benchmark, "bench_id")), Seq("gram_h"))
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Gopher-style repetition signals, adapted to flat (newline-free)
    * text: excessive word/n-gram repetition is the strongest cheap
    * predictor of low-quality machine-generated or boilerplate pages
    * (Rae et al., "Scaling Language Models: ... Gopher", 2021, §A.1.1
    * repetition filters). Per document:
    *   - `n_words` — token count (with duplicates);
    *   - `distinct_word_frac` — distinct tokens / tokens (low = loops);
    *   - `top_word_frac` — share of the single most frequent token;
    *   - `top_bigram_frac` — share of the most frequent bigram;
    *   - `mean_word_len` — mean token length in chars.
    *
    * Shape for scale: one explode per gram order into a (doc, term)
    * hash-agg, then a per-doc agg — all partial-aggregated before the
    * shuffle, no windows over raw tokens, no Expand. Documents with
    * null text vanish from the explode (no row out); docs with fewer
    * than 2 tokens have a null `top_bigram_frac` (left join).
    */
  def repetitionSignals(docs: DataFrame,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val t = tokens(col(textCol))
    val words = docs
      .select(col(idCol).as("doc_id"), explode(t).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum(col("c")).as("n_words"),
        (count(lit(1)).cast("double") / sum(col("c"))).as("distinct_word_frac"),
        (max(col("c")).cast("double") / sum(col("c"))).as("top_word_frac"),
        (sum(length(col("term")) * col("c")).cast("double") / sum(col("c")))
          .as("mean_word_len"))
    val bg = graft.functions.WordNgrams(t, 2)
    val bigrams = docs
      .select(col(idCol).as("doc_id"), explode(bg).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        (max(col("c")).cast("double") / sum(col("c"))).as("top_bigram_frac"))
    words.join(bigrams, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"), col("distinct_word_frac"),
        col("top_word_frac"), col("top_bigram_frac"), col("mean_word_len"))
  }

  /** TF-IDF keyword extraction: the `k` highest-scoring terms per
    * document, `tfidf = (c / doclen) * ln(N / df)` with raw counts and
    * the unsmoothed idf (every term trivially appears in ≥ 1 doc). Ties
    * break on the term string; `rank` is 1-based.
    *
    * One exploded (doc, term) count feeds everything: doc length comes
    * from a window sum over the already-aggregated counts (tiny vs raw
    * tokens), document frequency from a per-term re-agg, and the final
    * top-k is a row_number over per-doc counts — never over raw data.
    * N (corpus size) is a single-scalar driver probe, the same bounded
    * pattern as the vocabulary probes.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int,
                    idCol: String = "doc_id",
                    textCol: String = "text",
                    corpusSize: Option[Long] = None,
                    sharedTf: Option[DataFrame] = None): DataFrame = {
    require(k >= 1, "k must be >= 1")
    // pass corpusSize when the caller already knows it (or the input is
    // expensive to scan) — the default probe is one count job over docs
    val n = corpusSize.getOrElse(docs.filter(col(textCol).isNotNull).count())
    // tf feeds BOTH the per-doc length window and the document
    // frequencies; localCheckpoint (bm25's tf-reuse move) materializes
    // the explode + hash-agg once instead of per consumer; callers
    // holding the corpus-level shared memo pass it in
    val tf = sharedTf.getOrElse(docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
      .localCheckpoint())
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // join df on BEFORE either window: both windows partition by
    // doc_id, so they share one exchange + sort (the len window is
    // unordered and rides the rank window's partitioning) — joining
    // between them would shuffle the tf-sized table a third time
    tf.join(dfreq, Seq("term"))
      .withColumn("len",
        sum(col("c")).over(Window.partitionBy("doc_id")))
      .withColumn("tfidf",
        (col("c").cast("double") / col("len")) *
          log(lit(n).cast("double") / col("df")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))))
      .filter(col("rank") <= k)
      .select("doc_id", "term", "tfidf", "rank")
  }

  /** Corpus drift: the `k` tokens whose RELATIVE frequency moved most
    * between two corpus snapshots — the monitoring pass that catches a
    * source gone bad (spam flood, scraper regression, language mix
    * shift) before it trains into a model. `delta = |c_a/total_a −
    * c_b/total_b|`, ranked desc with token tiebreaks; tokens absent
    * from one side count 0 there (full-outer join).
    *
    * Shape for scale: each side is one explode + hash-agg to per-token
    * counts (map-side partials), computed ONCE (localCheckpoint, the
    * same reuse move as bm25's tf) and consumed twice — the totals are
    * single-scalar probes over the per-token aggregate (one row per
    * distinct token), not extra corpus-wide tokenize scans — and the
    * ranking sorts one row per distinct token, never raw data.
    */
  def tokenDrift(corpusA: DataFrame, corpusB: DataFrame, k: Int,
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    def counts(df: DataFrame, cName: String) = df
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as(cName))
      .localCheckpoint()
    val ca = counts(corpusA, "c_a")
    val cb = counts(corpusB, "c_b")
    def total(df: DataFrame, cName: String): Long = {
      val row = df.agg(sum(col(cName))).head()
      if (row.isNullAt(0)) 0L else row.getLong(0)
    }
    val totalA = total(ca, "c_a")
    val totalB = total(cb, "c_b")
    require(totalA > 0 && totalB > 0, "both corpora must contain tokens")
    ca.join(cb, Seq("token"), "full_outer")
      .select(col("token"),
        (coalesce(col("c_a"), lit(0L)).cast("double") / totalA).as("freq_a"),
        (coalesce(col("c_b"), lit(0L)).cast("double") / totalB).as("freq_b"))
      .withColumn("delta", abs(col("freq_a") - col("freq_b")))
      .orderBy(col("delta").desc, col("token"))
      .limit(k)
  }

  /** PII scrubbing + whitespace normalization — the redaction pass a
    * training corpus runs before ingestion. Replacement order matters
    * and is part of the contract: emails first (their local part may
    * contain digit runs), then phone-shaped digit groups, then any
    * bare digit run of 9+ (ids/SSNs/cards), then whitespace collapse.
    * Patterns stay in the RE2-compatible subset (character classes,
    * bounded/unbounded repeats — no backreferences or lookaround) so
    * SQL engines reproduce them exactly; everything is codegen'd
    * `regexp_replace`, embarrassingly parallel at any scale.
    */
  /** The scrub chain as data — (pattern, replacement) in application
    * order. ONE list feeds both the Column form below and the SQL
    * registration (`graft_scrub` builds its catalyst chain from this),
    * so the two surfaces cannot drift.
    */
  val ScrubSteps: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}" -> "<PHONE>",
    "[0-9]{9,}" -> "<ID>",
    "\\s+" -> " ")

  /** Deterministic weight table for [[qualityClassifier]]: `buckets`
    * integer weights in [-10, 10], each a pure function of
    * (seed, bucket) via md5 — reproducible in any engine, so a model
    * trained elsewhere can be frozen into the same shape.
    */
  def classifierWeights(seed: String, buckets: Int): Array[Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(buckets) { b =>
      val h = md.digest(s"$seed:$b".getBytes("UTF-8"))
      ((h(0) & 0xff) % 21) - 10
    }
  }

  /** fastText-style hashed linear text classifier (Joulin et al.,
    * "Bag of Tricks for Efficient Text Classification", 2017 — the
    * shape of the quality/toxicity filters in CCNet and the GPT-3
    * data pipeline): each token hashes into one of `buckets` feature
    * slots, the document score is the mean bucket weight, and `keep`
    * is the sign. The weight table here is a seeded stand-in with the
    * exact serving dataflow — training happens offline; serving a real
    * model means swapping the literal array.
    *
    * Integer-exact: weights are ints, the score sum is a long, and
    * only the final mean divides — bit-identical in any engine with
    * md5 (bucket = first-4-hex-digits slot mod `buckets`, the same
    * portable hash as the sampling operators). One scan, zero
    * shuffles, no UDFs: the weight table is a plan literal
    * (`element_at` over an array column), so scoring 100 TB is an
    * embarrassingly parallel map with the model riding inside the
    * plan, not in a join.
    */
  def qualityClassifier(docs: DataFrame, seed: String = "quality",
                        buckets: Int = 1024,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    require(buckets >= 1, "buckets must be >= 1")
    val w = typedLit(classifierWeights(seed, buckets).toSeq)
    val slot = (t: Column) =>
      conv(substring(md5(t), 1, 4), 16, 10).cast("long")
    val score = aggregate(
      transform(tokens(col(textCol)),
        t => element_at(w, (slot(t) % buckets).cast("int") + 1).cast("long")),
      lit(0L), (acc, x) => acc + x)
    docs.select(col(idCol).as("doc_id"),
        size(tokens(col(textCol))).cast("long").as("n_tokens"),
        score.as("score"))
      .filter(col("n_tokens") > 0)
      .withColumn("quality", col("score").cast("double") / col("n_tokens"))
      .withColumn("keep", col("quality") > 0)
  }

  def scrub(text: Column): Column =
    trim(ScrubSteps.foldLeft(text) { case (c, (p, r)) =>
      regexp_replace(c, p, r)
    })

  /** Occurrences of the literal `s` in `c` by the replace-and-measure
    * identity `(len(x) − len(replace(x, s, ''))) / len(s)` — exact,
    * regex-free, and reproducible verbatim in any engine (no dialect
    * quirks to mirror). The workhorse of the hygiene audits below.
    */
  def countLiteral(c: Column, s: String): Column = {
    require(s.nonEmpty, "empty needle")
    ((length(c) - length(replace(c, lit(s), lit("")))) / s.length).cast("long")
  }

  /** Double-encoded-UTF-8 signatures: a Latin-1 page re-decoded as
    * UTF-8 turns é→Ã©, ’→â€™, NBSP→Â&nbsp;, and the BOM into ï»¿.
    * The literal sequences below are the standard tells (each is what
    * a common cp1252/Latin-1 byte pair mis-decodes to).
    */
  val MojibakeMarks: Seq[String] =
    Seq("Ã©", "Ã¨", "Ã¼", "Ã¤", "Ã±", "â€™", "â€œ", "â€", "Â ", "ï»¿")

  /** Encoding-corruption audit: per document the U+FFFD replacement-
    * character count (a decoder already gave up), double-encoded
    * UTF-8 signature hits ([[MojibakeMarks]]), and stray C0 control
    * characters (NUL..US minus tab/newline/CR — binary bleeding into
    * text). `bad_ppm` is the combined density; `is_mojibake` gates on
    * the two encoding signals (control chars alone may be legitimate
    * markup). Pure codegen'd projection — one scan, no shuffle, no
    * regex beyond a single character class; the cheap tripwire that
    * runs before any tokenizer sees a byte.
    */
  def mojibake(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    // ONE Aho\u2013Corasick pass counts all 11 literals (kernel #12) \u2014
    // replace-identity semantics spec-pinned, oracles unchanged
    val pats = "\uFFFD" +: MojibakeMarks
    val cts = graft.functions.MultiCountLiterals(t, pats)
    val nRepl = element_at(col("cts"), 1)
    val nDouble = (2 to pats.size).map(i => element_at(col("cts"), i))
      .reduce(_ + _)
    val nCtl = (length(t) -
      length(regexp_replace(t, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", ""))).cast("long")
    docs.filter(t.isNotNull)
      .select(col(idCol).as("doc_id"), cts.as("cts"),
        nCtl.as("n_control"), length(t).cast("long").as("n_chars"))
      .select(col("doc_id"), nRepl.as("n_replacement"),
        nDouble.as("n_double_utf8"), col("n_control"), col("n_chars"))
      .withColumn("bad_ppm",
        when(col("n_chars") > 0,
          expr("(n_replacement + n_double_utf8 + n_control) * 1000000 div n_chars"))
          .otherwise(lit(0L)))
      .withColumn("is_mojibake", col("n_replacement") + col("n_double_utf8") > 0)
  }

  /** Markup strip + density: remove `<...>` tags (the WET-extraction
    * step between raw HTML and text pipelines), report how much of
    * the document was markup, and how many tags there were. Tag count
    * uses the replace-with-sentinel identity (strip with a 1-char
    * sentinel minus strip with nothing = number of matches) so no
    * engine-specific regex-count function is needed. Tags become a
    * space and runs collapse, so `<p>a</p><p>b</p>` reads "a b" not
    * "ab". Pure projection; the single `<[^>]*>` pattern means the
    * same thing in Java regex and RE2.
    */
  def stripMarkup(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val stripped = regexp_replace(t, "<[^>]*>", "")
    val sentinel = regexp_replace(t, "<[^>]*>", "\u0001")
    val clean = trim(regexp_replace(regexp_replace(t, "<[^>]*>", " "), " +", " "))
    docs.filter(t.isNotNull)
      .select(col(idCol).as("doc_id"),
        (length(t) - length(stripped)).cast("long").as("tag_chars"),
        (length(sentinel) - length(stripped)).cast("long").as("n_tags"),
        length(t).cast("long").as("n_chars"), clean.as("clean_text"))
      .withColumn("markup_ppm",
        when(col("n_chars") > 0, expr("tag_chars * 1000000 div n_chars"))
          .otherwise(lit(0L)))
  }

  /** Tokenizer/chat-template control strings whose appearance in a
    * training corpus means template leakage: a document containing a
    * literal `<|endoftext|>` will, once tokenized, inject a control
    * token mid-document and truncate attention or corrupt the loss
    * mask. The pinned list covers the GPT-2/OpenAI, SentencePiece,
    * and Llama-chat families.
    */
  val SpecialTokens: Seq[String] = Seq(
    "<|endoftext|>", "<|im_start|>", "<|im_end|>",
    "<s>", "</s>", "[INST]", "[/INST]", "<pad>", "<unk>", "<mask>")

  /** Special-token contamination rollup: per control string, how many
    * documents contain it and how many total occurrences. ONE corpus
    * scan computes every marker's count as a sibling codegen'd column
    * ([[countLiteral]]); a `stack` unpivot and a markers-sized agg
    * follow — no explode-against-the-corpus row multiplication, no
    * per-marker rescans. Emits a row per marker even at zero hits so
    * the report shape is stable.
    */
  def specialTokenAudit(docs: DataFrame, markers: Seq[String] = SpecialTokens,
                        textCol: String = "text"): DataFrame = {
    require(markers.nonEmpty, "no markers")
    val t = col(textCol)
    // one automaton pass for every marker (kernel #12), then the
    // per-marker columns peel off the counts array
    val counted = docs.filter(t.isNotNull)
      .select(graft.functions.MultiCountLiterals(t, markers).as("cts"))
      .select(markers.indices.map { i =>
        element_at(col("cts"), i + 1).as(s"c_$i")
      }: _*)
    val stackArgs = markers.zipWithIndex
      .map { case (m, i) => s"'${m.replace("'", "''")}', c_$i" }
      .mkString(", ")
    counted
      .select(expr(s"stack(${markers.size}, $stackArgs) AS (marker, c)"))
      .groupBy("marker")
      .agg(sum(when(col("c") > 0, 1L).otherwise(0L)).as("n_docs"),
        sum(col("c")).as("n_occurrences"))
      .orderBy("marker")
  }

  /** One-pass ingest hygiene gate: the four cheap tripwires —
    * encoding corruption ([[mojibake]]'s signals), special-token /
    * chat-template leakage ([[SpecialTokens]]), blocklist density
    * ([[Blocklist]] at `maxBadPpm`), and markup density (tag chars at
    * `maxMarkupPpm`) — fused into ONE codegen'd projection with a
    * per-reason flag column and the combined `keep` verdict.
    * Unreadable (null) documents fail closed with their own reason.
    *
    * Stateless and shuffle-free by construction, so the SAME operator
    * runs unchanged on the ingest STREAM (readStream → gate →
    * writeStream) and on the batch lake — live == batch is structural,
    * not a property to maintain (StreamingOpsSpec pins it anyway).
    */
  def ingestGate(docs: DataFrame, maxBadPpm: Long = 10000L,
                 maxMarkupPpm: Long = 100000L,
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    // one automaton pass for ALL 21 encoding + template literals
    // (kernel #12); the mojibake block is the first 11 entries, the
    // template block the rest
    val pats = ("\uFFFD" +: MojibakeMarks) ++ SpecialTokens
    val nMoji = (1 to MojibakeMarks.size + 1)
      .map(i => element_at(col("cts"), i)).reduce(_ + _)
    val nSpecial = (MojibakeMarks.size + 2 to pats.size)
      .map(i => element_at(col("cts"), i)).reduce(_ + _)
    val toks = tokens(t)
    val nToks = size(toks).cast("long")
    val nBad = hits(toks, Blocklist).cast("long")
    val tagChars = (length(t) - length(regexp_replace(t, "<[^>]*>", ""))).cast("long")
    val len = length(t).cast("long")
    // non-negative numerator/denominator: floor(a/b) == a div b, and
    // the products stay far under 2^53 so the double detour is exact
    val badPpm = floor(nBad * lit(1000000L) / nToks).cast("long")
    val markupPpm = floor(tagChars * lit(1000000L) / len).cast("long")
    docs.select(col(idCol).as("doc_id"),
        graft.functions.MultiCountLiterals(t, pats).as("cts"),
        t.isNull.as("reason_unreadable"),
        coalesce(nToks > 0 && badPpm > lit(maxBadPpm), lit(false))
          .as("reason_badword"),
        coalesce(len > 0 && markupPpm > lit(maxMarkupPpm), lit(false))
          .as("reason_markup"))
      .select(col("doc_id"), col("reason_unreadable"),
        coalesce(nMoji > 0, lit(false)).as("reason_mojibake"),
        coalesce(nSpecial > 0, lit(false)).as("reason_special"),
        col("reason_badword"), col("reason_markup"))
      .withColumn("keep",
        !col("reason_unreadable") && !col("reason_mojibake") &&
          !col("reason_special") && !col("reason_badword") &&
          !col("reason_markup"))
  }

  /** Placeholder blocklist for [[badwordGate]] — the corpus here is
    * synthetic, so the "blocklist" is a pinned set of ordinary tokens
    * standing in for a real unsafe-content list; serving a real list
    * means swapping this literal (the dataflow is the deliverable,
    * exactly like [[qualityClassifier]]'s weight table).
    */
  val Blocklist: Seq[String] = Seq("slow", "crash", "leak", "spill", "panic")

  /** Blocklist gate: token-exact hits against [[Blocklist]] (no
    * substring matches — "warranty" is not "war"), density in ppm,
    * and the keep/drop verdict at `maxPpm`. Token-exact matching
    * reuses the same array-filter shape as the language ID, so the
    * gate is one codegen'd projection: no explode, no shuffle, no
    * join. Null/empty docs fail closed (pass = false) — a gate must
    * never wave through what it could not read.
    */
  def badwordGate(docs: DataFrame, maxPpm: Long = 10000L,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    docs
      .select(col(idCol).as("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        hits(toks, Blocklist).cast("long").as("n_flagged"))
      .withColumn("flagged_ppm",
        when(col("n_tokens") > 0, expr("n_flagged * 1000000 div n_tokens"))
          .otherwise(lit(0L)))
      .withColumn("pass",
        coalesce(col("n_tokens") > 0 && col("flagged_ppm") <= maxPpm, lit(false)))
  }

  /** BM25 retrieval scores (Robertson/Spärck Jones; the Okapi
    * formulation with the +1 idf guard): for each of the `nQueryTerms`
    * highest-document-frequency terms, the `k` best-scoring documents.
    * `score = ln((N - df + 0.5)/(df + 0.5) + 1) * (c*(k1+1)) /
    * (c + k1*(1 - b + b*dl/avgdl))`.
    *
    * Shape for scale: ONE exploded (doc, term) count feeds term
    * frequencies, document lengths (per-doc re-agg), and document
    * frequencies (per-term re-agg) — all partial-aggregated before
    * their shuffles. The query-term list is tiny by construction and
    * broadcast; the final ranking windows over per-term match lists,
    * never raw tokens. N and total-token scalars are bounded driver
    * probes (the vocab-probe pattern). Ranking uses the quantized
    * score (floor(score*10000), doc_id tiebreak) so engines agree on
    * order even where libm ulps differ.
    */
  def bm25TopDocs(docs: DataFrame, nQueryTerms: Int, k: Int,
                  k1: Double = 1.2, b: Double = 0.75,
                  idCol: String = "doc_id",
                  textCol: String = "text",
                  sharedTf: Option[DataFrame] = None): DataFrame = {
    require(nQueryTerms >= 1 && k >= 1, "nQueryTerms and k must be >= 1")
    // with the shared tf in hand the corpus probe needs no tokenize
    // pass: total tokens ≡ Σc over the memo (explode drops the same
    // null/empty-token docs both ways), and the doc count is a plain
    // pruned-scan count
    val (n, totToks) = sharedTf match {
      case Some(stf) =>
        (docs.filter(col(textCol).isNotNull).count(),
          stf.agg(coalesce(sum(col("c")), lit(0L))).head().getLong(0))
      case None =>
        val probe = docs.filter(col(textCol).isNotNull)
          .select(count(lit(1)), sum(size(tokens(col(textCol)))).cast("long"))
          .head()
        (probe.getLong(0), if (probe.isNullAt(1)) 0L else probe.getLong(1))
    }
    require(n > 0, "corpus is empty")
    val avgdl = totToks.toDouble / n
    // tf feeds THREE consumers (doc lengths, document frequencies, the
    // final scoring join) and identical subtrees get no automatic
    // exchange reuse here (plan shows 3 Generate explode branches) —
    // materialize the (doc, term) counts once; callers holding the
    // corpus-level shared memo pass it in and skip the build entirely
    val tf = sharedTf.getOrElse(docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
      .localCheckpoint())
    val dl = tf.groupBy("doc_id").agg(sum(col("c")).as("dl"))
    val top = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term")).limit(nQueryTerms)
    val idf = log((lit(n.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1)
    val score = idf * (col("c") * (k1 + 1)) /
      (col("c") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / avgdl))
    val w = Window.partitionBy("term")
      .orderBy(col("score_q").desc, col("doc_id"))
    tf.join(broadcast(top), Seq("term"))
      .join(dl, Seq("doc_id"))
      .withColumn("score", score)
      .withColumn("score_q", floor(col("score") * 10000).cast("long"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("term", "doc_id", "rank", "score_q", "score")
  }

  /** Multi-term BM25 top-k with EXACT impact-ordered pruning — the
    * scale path for text retrieval, the same brute-vs-pruned split the
    * ANN family draws (brute cosine vs IVF): the naive plan fully
    * scores every document matching ANY query term; this one reads
    * only a PREFIX of each term's impact-ordered posting list and
    * certifies the result exact with the threshold-algorithm bound
    * (Fagin et al., PODS '01; WAND's ancestor), batch-adapted.
    *
    * Queries are derived deterministically from the corpus (the
    * q_bm25 convention): the `nQueryTerms` highest-df terms, dealt
    * round-robin into `nQueries` bags of terms (rank r → query
    * (r-1) % nQueries), scored disjunctively (a doc's score = sum of
    * its per-term quantized BM25 contributions over the bag).
    *
    * The pruning loop: postings for the query terms only, each list
    * ranked by impact (score_q desc, doc_id). At prefix depth D the
    * candidates are the union of the per-list top-D; candidates are
    * fully scored (ALL their postings, not just prefix rows — a
    * candidate-keyed semi-join; at scale the candidate set is tiny
    * and broadcast). Certificate: any NON-candidate ranks > D in
    * every list, so its score is at most the sum of each list's
    * rank-(D+1) impact; if that bound is STRICTLY below the k-th
    * candidate score (strict, so the doc_id tiebreak can never be
    * reached by an unseen doc), the top-k is provably the true
    * top-k. Not certified → D doubles (a bounded driver loop, 3-row
    * probe per round — the vocab-probe pattern); a list that runs out
    * contributes 0 to the bound, so exhaustion certifies trivially.
    *
    * Determinism across engines: per-term scores quantize to
    * floor(score*10000) BEFORE the sum (longs add order-free);
    * ranking by (score_q desc, doc_id).
    *
    * Shape for scale: ONE exploded tf feeds df/dl/postings (the
    * bm25TopDocs materialization discipline); the query-term map is
    * a bounded driver probe broadcast into the postings join; the
    * loop re-reads the CHECKPOINTED postings frame (query terms
    * only — corpus-sized work happens once), and every loop-round
    * aggregate is per-(qid,doc) partial-agged before its shuffle.
    */
  def bm25WandTopDocs(docs: DataFrame, nQueryTerms: Int = 9,
                      nQueries: Int = 3, k: Int = 10,
                      k1: Double = 1.2, b: Double = 0.75,
                      d0: Int = 64,
                      idCol: String = "doc_id",
                      textCol: String = "text",
                      sharedTf: Option[DataFrame] = None): DataFrame = {
    require(nQueryTerms >= 1 && nQueries >= 1 && k >= 1 && d0 >= 1,
      "nQueryTerms, nQueries, k, d0 must be >= 1")
    val s = docs.sparkSession
    import scala.jdk.CollectionConverters._
    // with the shared tf in hand the corpus probe needs no tokenize
    // pass: total tokens ≡ Σc over the memo (explode drops the same
    // null/empty-token docs both ways), and the doc count is a plain
    // pruned-scan count
    val (n, totToks) = sharedTf match {
      case Some(stf) =>
        (docs.filter(col(textCol).isNotNull).count(),
          stf.agg(coalesce(sum(col("c")), lit(0L))).head().getLong(0))
      case None =>
        val probe = docs.filter(col(textCol).isNotNull)
          .select(count(lit(1)), sum(size(tokens(col(textCol)))).cast("long"))
          .head()
        (probe.getLong(0), if (probe.isNullAt(1)) 0L else probe.getLong(1))
    }
    require(n > 0, "corpus is empty")
    val avgdl = totToks.toDouble / n
    val tf = sharedTf.getOrElse(docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
      .localCheckpoint())
    val dl = tf.groupBy("doc_id").agg(sum(col("c")).as("dl"))
    // bounded probe: the query-term list (nQueryTerms rows) with its
    // df, dealt round-robin into query bags
    val qtRows = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term")).limit(nQueryTerms)
      .collect()
    val qterms = s.createDataFrame(
      qtRows.zipWithIndex.map { case (r, i) =>
        Row(r.getString(0), r.getLong(1), Integer.valueOf(i % nQueries))
      }.toSeq.asJava,
      StructType(Seq(StructField("term", StringType),
        StructField("df", LongType), StructField("qid", IntegerType))))
    val idf = log((lit(n.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1)
    val score = idf * (col("c") * (k1 + 1)) /
      (col("c") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / avgdl))
    // postings: query terms only, impact-ranked within each list —
    // this is the frame the loop prefixes, so materialize it once
    val postings = tf.join(broadcast(qterms), Seq("term"))
      .join(dl, Seq("doc_id"))
      .withColumn("score_q", floor(score * 10000).cast("long"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("term").orderBy(col("score_q").desc, col("doc_id"))))
      .select("qid", "term", "doc_id", "score_q", "rnk")
      .localCheckpoint()
    val wq = Window.partitionBy("qid")
      .orderBy(col("score_q").desc, col("doc_id"))
    var d = d0
    var result: DataFrame = null
    while (result == null) {
      val cand = postings.filter(col("rnk") <= d)
        .select("qid", "doc_id").distinct()
      // the checkpointed postings frame has no stats Spark could use,
      // so hint the join side: candidates are ≤ nQueryTerms·D rows —
      // broadcast while that bound is small, shuffle once it isn't
      val candSide = if (nQueryTerms.toLong * d <= 1000000L)
        broadcast(cand) else cand
      val ranked = postings.join(candSide, Seq("qid", "doc_id"))
        .groupBy("qid", "doc_id")
        .agg(sum(col("score_q")).as("score_q"),
          count(lit(1)).as("n_terms"))
        .withColumn("rank", row_number().over(wq))
        .filter(col("rank") <= k)
      // certificate probe: nQueries rows — (k-th candidate score,
      // sum of rank-(D+1) impacts, open-list count)
      val kth = ranked.groupBy("qid")
        .agg(min(col("score_q")).as("kth"), count(lit(1)).as("nc"))
      val ub = postings.filter(col("rnk") === d + 1)
        .groupBy("qid")
        .agg(sum(col("score_q")).as("bound"), count(lit(1)).as("n_open"))
      val cert = kth.join(ub, Seq("qid"), "left").collect()
      val allCertified = cert.forall { r =>
        val exhausted = r.isNullAt(r.fieldIndex("bound"))
        exhausted ||
          (r.getLong(r.fieldIndex("nc")) >= k &&
            r.getLong(r.fieldIndex("bound")) < r.getLong(r.fieldIndex("kth")))
      }
      if (allCertified)
        result = ranked
          .select(col("qid"), col("doc_id"), col("rank"),
            col("score_q"), col("n_terms"))
          .orderBy("qid", "rank")
      else d = d * 2
    }
    result
  }

  /** Bigram language-model scoring — the cheap perplexity proxy a
    * corpus pipeline uses to flag out-of-distribution or garbled text
    * (a KenLM stand-in with the same dataflow). Train side: bigram
    * counts `c(prev,next)` and context totals `c(prev)`; score side:
    * each test document's mean add-one-smoothed log probability
    * `ln((c(prev,next)+1)/(c(prev)+V))` over its bigrams (V = train
    * vocabulary size). Unseen bigrams/contexts coalesce to 0 and the
    * smoothing keeps the probability proper.
    *
    * Determinism across engines: each bigram's log prob is quantized
    * to floor(lp*10000) BEFORE the per-doc sum — summing longs is
    * order-free where summing doubles is not. Emits (doc_id,
    * n_bigrams, sum_lpq, avg_lpq); test docs with fewer than two
    * tokens emit nothing.
    *
    * Shape for scale: the train corpus tokenizes ONCE into a
    * checkpointed per-doc token-array frame that feeds BOTH the bigram
    * build and the vocabulary probe (counting V off `bg`'s distinct
    * prev∪next would miss single-token documents' words — and a
    * separate count_distinct scan would re-tokenize the corpus); the
    * bigram counts cascade into the context totals off that one
    * materialization. Test explodes to (doc, prev, next) and
    * equi-joins the count tables (shuffle on the bigram/context keys,
    * partial-agged sides); V is a bounded scalar probe.
    */
  def lmScore(train: DataFrame, test: DataFrame,
              idCol: String = "doc_id",
              textCol: String = "text"): DataFrame = {
    def pairsOf(ts: Column): Column =
      when(size(ts) >= 2,
        transform(sequence(lit(1), size(ts) - 1),
          i => struct(element_at(ts, i).as("prev"), element_at(ts, i + 1).as("next"))))
        .otherwise(array().cast("array<struct<prev:string,next:string>>"))
    // ONE tokenize scan over the train corpus, shared by the bigram
    // build and the vocab count
    val trainToks = train.select(tokens(col(textCol)).as("ts")).localCheckpoint()
    val trainPairs = trainToks.select(explode(pairsOf(col("ts"))).as("p"))
      .select(col("p.prev"), col("p.next"))
    // bg feeds the context re-agg AND the scoring join — materialize the
    // train-side explode + count once (same reuse gap as bm25's tf)
    val bg = trainPairs.groupBy("prev", "next").agg(count(lit(1)).as("c_bg"))
      .localCheckpoint()
    val ctx = bg.groupBy("prev").agg(sum(col("c_bg")).as("c_ctx"))
    val vocab = trainToks
      .select(explode(col("ts")).as("tok"))
      .agg(count_distinct(col("tok"))).head().getLong(0)
    def pairs(df: DataFrame, extraNames: Seq[String]): DataFrame = {
      val ps = pairsOf(tokens(col(textCol)))
      df.select(extraNames.map(col) :+ explode(ps).as("p"): _*)
        .select(extraNames.map(col) :+ col("p.prev") :+ col("p.next"): _*)
    }
    val lp = log(
      (coalesce(col("c_bg"), lit(0L)) + 1).cast("double") /
        (coalesce(col("c_ctx"), lit(0L)) + vocab).cast("double"))
    pairs(test.select(col(idCol).as("doc_id"), col(textCol)), Seq("doc_id"))
      .join(bg, Seq("prev", "next"), "left")
      .join(ctx, Seq("prev"), "left")
      .withColumn("lpq", floor(lp * 10000).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("lpq")).as("sum_lpq"),
        (sum(col("lpq")).cast("double") / count(lit(1))).as("avg_lpq"))
  }

  /** DSIR importance weights (Xie et al., NeurIPS 2023 — "Data
    * Selection for Language Models via Importance Resampling"): score
    * every raw-corpus document by how target-like its hashed n-gram
    * profile is, so a cheap weighted sample ([[graft.ops.Sampling]])
    * pulls a target-shaped subset out of a 100 TB crawl. Features are
    * the paper's hashed unigrams+bigrams: each gram buckets by md5
    * into `buckets` slots; `p_target` / `p_raw` are the
    * Laplace-smoothed bucket distributions of the two corpora, and a
    * document's log weight is `sum_b c_b(doc) * ln(p_t(b)/p_r(b))`.
    *
    * Determinism across engines (the [[lmScore]] discipline): each
    * bucket's log-ratio quantizes to `floor(ln(·)*10000)` BEFORE the
    * per-doc sum — long sums are order-free where double sums are not
    * — and the ratio's numerator/denominator are EXACT integer
    * products cast to double once (`(c_t+1)(T_r+B)` ≤ ~2^53 for any
    * corpus whose gram count fits a partition planner anyway).
    *
    * Shape for scale: two tiny B-row distribution aggregations (plus
    * their 1-row totals, broadcast-crossed); ONE real shuffle — the
    * per-(doc, bucket) counts — which partial-aggregates map-side;
    * the B-row log-ratio table broadcast-joins onto it. No
    * driver-side collection anywhere. Docs with no grams (empty
    * text) emit nothing, like [[lmScore]].
    */
  def importanceWeights(raw: DataFrame, target: DataFrame,
                        buckets: Int = 1024,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    require(buckets >= 1, "buckets must be >= 1")
    def grams(df: DataFrame, keep: Seq[String]): DataFrame =
      df.select(keep.map(col) :+
        explode(gramBuckets(textCol, buckets)).as("b"): _*)
    val dg = grams(raw, Seq(idCol))
      .select(col(idCol).as("doc_id"), col("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
    val tgtB = grams(target, Nil).groupBy("b").agg(count(lit(1)).as("ct"))
    weightsFromCounts(dg, tgtB, buckets)
  }

  /** [[importanceWeights]] when the target IS a row-subset of the raw
    * corpus (the overwhelmingly common DSIR deployment: "weight the
    * crawl toward its own high-quality slice"): the gram-hash scan —
    * the expensive part, two md5s per token — runs over the raw corpus
    * EXACTLY ONCE, carrying a per-doc target flag; the raw and target
    * bucket distributions and the per-doc scores all derive from that
    * one (doc, bucket, count) frame. Bit-identical to
    * `importanceWeights(raw, raw.filter(targetCond))` (same counts,
    * same quantized log-ratio, same per-doc sums) at ~half the scan
    * cost. `targetCond` must be deterministic per row.
    */
  def importanceWeightsWithin(raw: DataFrame, targetCond: Column,
                              buckets: Int = 1024,
                              idCol: String = "doc_id",
                              textCol: String = "text"): DataFrame = {
    require(buckets >= 1, "buckets must be >= 1")
    // ONE gram-hash scan, materialized skinny (doc, flag, bucket,
    // count) — the three consumers below (raw distribution, target
    // distribution, per-doc scores) re-read blocks instead of
    // re-hashing the corpus (the lmScore `bg` discipline; leaving it
    // to exchange reuse measurably re-ran the scan per branch)
    val dgt = raw
      .select(col(idCol).as("doc_id"), targetCond.as("_t"),
        explode(gramBuckets(textCol, buckets)).as("b"))
      .groupBy("doc_id", "_t", "b").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val tgtB = dgt.filter(col("_t")).groupBy("b")
      .agg(sum(col("c")).as("ct"))
    weightsFromCounts(dgt.select("doc_id", "b", "c"), tgtB, buckets)
  }

  /** Shared tail of the two weight entry points: distributions,
    * quantized log-ratio table, per-doc integer sums — from the
    * per-(doc, bucket) count frame `dg` and the target bucket counts.
    */
  private def weightsFromCounts(dg: DataFrame, tgtB: DataFrame,
                                buckets: Int): DataFrame = {
    val rawB = dg.groupBy("b").agg(sum(col("c")).as("cr"))
    val totR = rawB.agg(coalesce(sum(col("cr")), lit(0L)).as("tot_r"))
    val totT = tgtB.agg(coalesce(sum(col("ct")), lit(0L)).as("tot_t"))
    val lr = rawB.join(tgtB, Seq("b"), "left")
      .crossJoin(broadcast(totR)).crossJoin(broadcast(totT))
      .withColumn("lrq", floor(log(
        ((coalesce(col("ct"), lit(0L)) + 1) * (col("tot_r") + buckets))
          .cast("double") /
          ((col("cr") + 1) * (col("tot_t") + buckets)).cast("double"))
        * 10000).cast("long"))
      .select("b", "lrq")
    dg.join(broadcast(lr), Seq("b"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_grams"),
        sum(col("c") * col("lrq")).as("sum_lrq"))
      .withColumn("logw", col("sum_lrq").cast("double") / 10000)
  }

  /** DSIR hashed-gram bucket ids as one array expression — the
    * feature definition behind [[importanceWeights]]: unigrams+bigrams
    * of the length-filtered token list, each md5-bucketed into
    * `buckets` slots.
    */
  private[graft] def gramBuckets(textCol: String, buckets: Int): Column =
    graft.functions.GramBucketIds(tokens(col(textCol)), buckets)

  /** The pre-kernel lambda-chain form of [[gramBuckets]] — kept ONLY
    * as the parity oracle for the native [[graft.functions.GramBucketIds]]
    * kernel (spec-pinned bit-equality; the kernel replaced it because
    * two md5-hex round-trips per token dominated the q_dsir memo).
    */
  private[graft] def gramBucketsChain(textCol: String, buckets: Int): Column = {
    val ts = filter(tokens(col(textCol)), t => length(t) > 0)
    val bi = when(size(ts) >= 2,
      transform(sequence(lit(1), size(ts) - 1),
        i => concat(element_at(ts, i), lit(" "), element_at(ts, i + 1))))
      .otherwise(array().cast("array<string>"))
    transform(concat(ts, bi),
      g => conv(substring(md5(g), 1, 4), 16, 10).cast("long") % buckets)
  }

  /** TRAINED hashed linear probe — gradient-descent training as a
    * first-class distributed operator, with arithmetic chosen so the
    * whole optimization is BIT-EXACT on any engine (and therefore
    * sits under the DuckDB hash gate, which no float SGD could):
    * least-mean-squares over hashed token-count features, every
    * quantity an integer.
    *
    *  - features: `x_db` = doc d's token count in bucket b (the
    *    [[qualityClassifier]] hash space);
    *  - model: `w_q` in 2^-20 units; predictions `Σ_b w_q[b]·x_db`
    *    are exact long sums (a pure projection per doc — the model
    *    rides the plan as a literal);
    *  - residual `r_q = pred_q − (y << 20)`; gradient
    *    `g_b = Σ_d r_q·x_db` accumulates through DECIMAL(38,0)
    *    (order-free, overflow-free at any corpus size), then
    *    mean-normalizes with truncating `DIV n` and steps
    *    `w' = w − (g >> lrShift)` — `DIV` truncates toward zero and
    *    `>>` floors in BOTH Spark and DuckDB (verified), so every
    *    iterate is reproducible to the bit;
    *  - `iters` bounded driver rounds, each: one broadcast of the
    *    B-entry model + one shuffle (bucket gradient agg) + one B-row
    *    collect — the vocab-probe tier of justified collects. Round
    *    cost is independent of corpus size.
    *
    * The mean-normalized step makes the effective learning rate
    * `2^-lrShift` scale-free (the same `lrShift` is stable at sf0.001
    * and at 1000× that). Docs with no tokens are excluded (no
    * features, no gradient).
    */
  def trainLinearProbe(docs: DataFrame, label: Column,
                       buckets: Int = 64, iters: Int = 3,
                       lrShift: Int = 4,
                       textCol: String = "text"): DataFrame = {
    require(buckets >= 1, "buckets must be >= 1")
    require(iters >= 0 && iters <= 64, s"iters must be in [0, 64]: $iters")
    require(lrShift >= 0 && lrShift <= 62, s"lrShift out of range: $lrShift")
    val session = docs.sparkSession
    val slot = (t: Column) =>
      (conv(substring(md5(t), 1, 4), 16, 10).cast("long") % buckets)
        .cast("int")
    val toks = filter(tokens(col(textCol)), t => length(t) > 0)
    // tokenize AND hash once: the checkpoint stores each token's md5
    // BUCKET (int array), not the token strings — every iteration used
    // to re-run md5+conv per token twice (prediction fold + gradient
    // explode), putting 2·iters full hash passes in the loop; now the
    // loop is pure array lookups over a smaller cached frame
    val base = docs.select(toks.as("ts"),
        (label.cast("boolean").cast("long") * (1L << 20)).as("y_q"))
      .filter(size(col("ts")) > 0)
      .select(transform(col("ts"), t => slot(t)).as("ss"), col("y_q"))
      .localCheckpoint() // one tokenize+hash; reread every iteration
    val n = base.count()
    var w = Array.fill(buckets)(0L)
    if (n > 0) for (_ <- 0 until iters) {
      val wl = typedLit(w.toSeq)
      val pred = aggregate(transform(col("ss"),
        b => element_at(wl, b + 1)), lit(0L), (a, x) => a + x)
      val g = base
        .select((pred - col("y_q")).cast(DecimalType(38, 0)).as("r_q"),
          col("ss"))
        .select(col("r_q"), explode(col("ss")).as("b"))
        .groupBy(col("b"))
        .agg(sum(col("r_q")).as("g_raw"))
        .select(col("b"), expr(s"CAST(g_raw DIV $n AS BIGINT)").as("g"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      w = Array.tabulate(buckets)(b => w(b) - (g.getOrElse(b, 0L) >> lrShift))
    }
    import session.implicits._
    w.zipWithIndex
      .map { case (wq, b) => (b, wq, wq.toDouble / (1L << 20)) }
      .toSeq.toDF("b", "w_q", "w")
  }

  /** Content-defined chunking at token granularity — the
    * storage-dedup boundary trick (FastCDC, Xia et al. USENIX
    * ATC'16) applied where an LLM pipeline chunks: a token is a
    * boundary iff `md5("cdc:" + token) % avgLen == 0`, so boundaries
    * are a pure function of CONTENT — an insertion early in a doc
    * shifts fixed-size chunk frames everywhere after it, but
    * content-defined boundaries realign immediately, which is what
    * makes repeated spans land in identical chunks and dedup.
    * Expected chunk length = `avgLen` tokens.
    *
    * Per doc: (chunk_idx, chunk_hash, n_tokens) rows. One per-doc
    * window (partitioned by doc — never global) turns the boundary
    * flags into running chunk ids; the chunk hash is md5 of the
    * space-joined tokens, pos-ordered.
    */
  def cdcChunks(docs: DataFrame, avgLen: Int = 8,
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    require(avgLen >= 2, s"avgLen must be >= 2, got $avgLen")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("pos")
    docs
      .select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .withColumn("boundary",
        (conv(substring(md5(concat(lit("cdc:"), col("tok"))), 1, 6), 16, 10)
          .cast("long") % avgLen === 0L).cast("long"))
      // a boundary token STARTS a new chunk; the running boundary
      // count up to (and including) the token is its chunk id
      .withColumn("chunk_idx",
        sum(col("boundary")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("chunk_idx"))
      .agg(md5(concat_ws(" ",
          org.apache.spark.sql.functions.array_sort(
            collect_list(struct(col("pos"), col("tok"))))
            .getField("tok"))).as("chunk_hash"),
        count(lit(1)).as("n_tokens"))
  }
}
