package graft.queries

import graft.Tables
import graft.functions.TextFunctions
import graft.operators.{Dedup, DistinctSketch, EventOps, HeavyHitters, Multimodal, Similarity, SnapshotDiff, StringSim, TextAnalysis}
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import QHelpers._

/** North-star extension operators (SURVEY.md §2.3 EXT block): text analysis,
  * dedup (exact Jaccard / MinHash+LSH / SimHash), embedding similarity
  * search, multimodal binary columns, event windows/sessionization.
  *
  * Oracle notes:
  *  - MinHash pairs are exactly verified post-LSH, so the oracle is the
  *    plain exact-Jaccard SQL; at threshold 0.8 with 16×2 banding the LSH
  *    miss probability is < 1e-7 per true pair.
  *  - SimHash and SRP-LSH top-k depend on xxhash64 (not reproducible in
  *    DuckDB SQL) → rows-only checks; their quality is asserted against the
  *    exact variants in the ScalaTest suite instead.
  */
object ExtQueries {

  private val stop = TextFunctions.defaultStopwords
  private def stopIn = stop.map(w => s"'$w'").mkString("(", ",", ")")

  /** DuckDB text of TextFunctions.qualityScore — shared by q_ext_txt3 and
    * the q_ext_pipe1 capstone so the two oracles can't drift.
    */
  private def qualitySqlExpr: String =
    "(least(CAST(length(text) AS DOUBLE)/500.0, 1.0)*0.4 " +
      "+ (1.0 - CAST(length(regexp_replace(lower(text),'[a-z0-9 ]','','g')) AS DOUBLE)/length(text))*0.3 " +
      s"+ least(CAST(len(list_filter(string_split(text,' '), t -> t IN $stopIn)) AS DOUBLE)/len(string_split(text,' '))*5.0, 1.0)*0.3)"

  /** Shared DuckDB CTE text: word-3-gram shingle sets → intersection counts.
    * (`recursivePrefix` lets callers prepend WITH RECURSIVE for CTEs that
    * extend the chain with a recursive member.)
    */
  private def jaccardCtes: String = jaccardCtesOver("documents")

  private def jaccardCtesOver(src: String): String =
    s"words AS (SELECT doc_id, string_split(text,' ') w FROM $src), " +
      "tok AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
      "generate_series(1, greatest(len(w)-2,0)), i -> w[i]||' '||w[i+1]||' '||w[i+2]))) AS tok FROM words), " +
      "sz AS (SELECT doc_id, count(*) sz FROM tok GROUP BY 1), " +
      "inter AS (SELECT a.doc_id d1, b.doc_id d2, count(*) c FROM tok a JOIN tok b " +
      "ON a.tok=b.tok AND a.doc_id<b.doc_id GROUP BY 1,2)"

  /** Quality filter → md5 exact-dedup keeper → near-dup pairs (from the
    * given generator) → connected components → keep one doc per cluster.
    * Shared by the q_ext_pipe1/q_ext_pipe2 capstones so the two variants
    * differ ONLY in the pair generator.
    */
  private def curationPipeline(docs: org.apache.spark.sql.DataFrame,
      pairGen: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val quality = docs
      .withColumn("quality", TextFunctions.qualityScore(col("text")))
      .filter(col("quality") >= 0.6)
    val fpKept = quality
      .withColumn("fp", TextFunctions.fingerprintMd5(col("text")))
      .withColumn("keep_id", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
      .filter(col("doc_id") === col("keep_id"))
      .select(col("doc_id"), col("text"), col("quality"))
    val comps = Dedup.connectedComponents(pairGen(fpKept))
    fpKept
      .join(comps.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .filter(col("rep").isNull || col("rep") === col("doc_id"))
      .select(col("doc_id"), f4(col("quality")).as("quality"))
      .orderBy("doc_id")
  }

  /** DuckDB text of the curation capstone at a near-dup threshold. */
  private def curationSql(tau: Double): String =
    "WITH RECURSIVE q AS (SELECT doc_id, text, " + qualitySqlExpr + " AS quality " +
      "FROM documents WHERE " + qualitySqlExpr + " >= 0.6), " +
      "fp AS (SELECT doc_id, text, quality, min(doc_id) OVER (PARTITION BY md5(text)) keep_id FROM q), " +
      "kept AS (SELECT doc_id, text, quality FROM fp WHERE doc_id = keep_id), " +
      jaccardCtesOver("kept") + ", " +
      "pairs AS (SELECT i.d1, i.d2 FROM inter i JOIN sz sa ON sa.doc_id=i.d1 " +
      s"JOIN sz sb ON sb.doc_id=i.d2 WHERE CAST(c AS DOUBLE)/(sa.sz+sb.sz-c) >= $tau), " +
      "edges AS (SELECT d1 u, d2 v FROM pairs UNION ALL SELECT d2, d1 FROM pairs), " +
      "reach(u, v) AS (SELECT u, v FROM edges UNION " +
      "SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u), " +
      "rep AS (SELECT u AS doc_id, least(min(v), u) AS rep FROM reach GROUP BY u) " +
      "SELECT k.doc_id, floor(k.quality*10000)/10000 AS quality FROM kept k " +
      "LEFT JOIN rep r ON k.doc_id = r.doc_id " +
      "WHERE r.rep IS NULL OR r.rep = k.doc_id ORDER BY k.doc_id"

  /** Cross-set variant of [[jaccardCtes]]: intersections between the
    * incoming batch (doc_id % 10 == 0) and the rest of the corpus.
    */
  private def jaccardCtes2: String =
    "words AS (SELECT doc_id, string_split(text,' ') w FROM documents), " +
      "tok AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
      "generate_series(1, greatest(len(w)-2,0)), i -> w[i]||' '||w[i+1]||' '||w[i+2]))) AS tok FROM words), " +
      "sz2 AS (SELECT doc_id, count(*) sz FROM tok GROUP BY 1), " +
      "inter2 AS (SELECT a.doc_id d1, b.doc_id d2, count(*) c FROM tok a JOIN tok b " +
      "ON a.tok=b.tok AND a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0 GROUP BY 1,2)"

  /** DuckDB exact word-3-gram-shingle Jaccard pairs at a threshold. */
  private def jaccardSql(tau: Double): String =
    s"WITH $jaccardCtes " +
      "SELECT i.d1, i.d2, floor(CAST(c AS DOUBLE)/(sa.sz+sb.sz-c)*10000)/10000 AS jac " +
      "FROM inter i JOIN sz sa ON sa.doc_id=i.d1 JOIN sz sb ON sb.doc_id=i.d2 " +
      s"WHERE CAST(c AS DOUBLE)/(sa.sz+sb.sz-c) >= $tau ORDER BY 1,2"

  /** DuckDB exact cosine top-k over `embeddings` for a query predicate —
    * shared by q_ext_sim1/sim2/sim3 so the three oracles can't drift. The
    * dot is the same sequential i=1..64 double accumulation as the codegen'd
    * vector_dot, so full-precision ranking agrees across engines.
    */
  private def cosineTopKSql(queryPred: String, k: Int): String =
    s"WITH q AS (SELECT vec_id qid, embedding qv FROM embeddings WHERE $queryPred), " +
      "s AS (SELECT q.qid, e.vec_id nid, " +
      "(SELECT sum(CAST(q.qv[i] AS DOUBLE)*CAST(e.embedding[i] AS DOUBLE)) FROM (SELECT unnest(generate_series(1,64)) i)) dot, " +
      "(SELECT sum(CAST(q.qv[i] AS DOUBLE)*CAST(q.qv[i] AS DOUBLE)) FROM (SELECT unnest(generate_series(1,64)) i)) nq, " +
      "(SELECT sum(CAST(e.embedding[i] AS DOUBLE)*CAST(e.embedding[i] AS DOUBLE)) FROM (SELECT unnest(generate_series(1,64)) i)) ne " +
      "FROM embeddings e, q WHERE e.vec_id <> q.qid), " +
      "t AS (SELECT qid, nid, dot/(sqrt(nq)*sqrt(ne)) cos, " +
      "row_number() OVER (PARTITION BY qid ORDER BY dot/(sqrt(nq)*sqrt(ne)) DESC, nid) rn FROM s) " +
      s"SELECT qid, CAST(rn AS INTEGER) AS rn, nid, round(cos,4) AS cos FROM t WHERE rn <= $k ORDER BY qid, rn"

  /** 1-row [recall] frame: the fraction of `truth` key-pairs present in
    * `cand`. Callers wrap an emitted column in
    * `when(recall >= bound, …).otherwise(raise_error(…))` — the r8 oracle-
    * promotion pattern: the approximate machinery stays on the correctness
    * gate because an out-of-bound candidate set turns the whole query into a
    * FAIL row instead of a silent quality drift. Empty truth → vacuous 1.0.
    */
  private def pairRecall(truth: org.apache.spark.sql.DataFrame,
      cand: org.apache.spark.sql.DataFrame, keys: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    val marked = cand.select(keys.map(col): _*).dropDuplicates(keys)
      .withColumn("__hit", lit(1.0))
    truth.select(keys.map(col): _*).join(marked, keys, "left")
      .agg(coalesce(avg(coalesce(col("__hit"), lit(0.0))), lit(1.0)).as("recall"))
  }

  val all: Seq[DeclaredQuery] = Seq(
    // ---- text analysis ----
    DeclaredQuery(
      "q_ext_txt1",
      (s, d) =>
        Tables.load(s, d, "documents")
          .select(col("doc_id"),
            TextFunctions.tokenCount(col("text")).as("n_tok"),
            TextFunctions.uniqueTokenCount(col("text")).as("n_uniq"),
            TextFunctions.charCount(col("text")).as("n_chars"),
            TextFunctions.bpeishTokenCount(col("text")).as("n_bpeish"))
          .orderBy("doc_id"),
      Some(
        "SELECT doc_id, CAST(len(string_split(text,' ')) AS INTEGER) AS n_tok, " +
          "CAST(len(list_distinct(string_split(text,' '))) AS INTEGER) AS n_uniq, " +
          "CAST(length(text) AS INTEGER) AS n_chars, " +
          "CAST(len(regexp_extract_all(lower(text),'[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_bpeish " +
          "FROM documents ORDER BY doc_id")),

    // REAL greedy merges-table BPE token counting on the oracle gate: the
    // native codegen'd bpe_token_count expression runs the standard BPE
    // encode (checked-in fixture merges, three levels deep) per document,
    // and the oracle re-derives the SAME counts from the SAME merges table
    // via BpeTokenizer.oracleCountSqlExpr — a rank-ordered replace() chain
    // with one placeholder char per merge output, whose final length() IS
    // the symbol count (exact for a well-formed merges table; equivalence
    // property-tested in BpeSpec). Both sides derive from one Scala source
    // of truth, so the merges fixture cannot drift between engines. The
    // whitespace count and the bpe-per-word ratio ride along — the 1.3-1.7×
    // budget divergence this unit exists to close, measured per doc.
    DeclaredQuery(
      "q_ext_tok1",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        Tables.load(s, d, "documents")
          .select(col("doc_id"),
            TextFunctions.tokenCount(col("text")).as("n_ws"),
            TextFunctions.bpeTokenCount(col("text")).as("n_bpe"),
            r4(TextFunctions.bpeTokenCount(col("text")).cast("double") /
              TextFunctions.tokenCount(col("text"))).as("bpe_per_word"))
          .orderBy("doc_id")
      },
      Some {
        val wordCount = graft.functions.BpeTokenizer.default.oracleCountSqlExpr("w")
        "WITH w AS (SELECT doc_id, unnest(regexp_extract_all(lower(text)," +
          "'[a-z]+|[0-9]+|[^a-z0-9 ]')) AS w FROM documents), " +
          s"c AS (SELECT doc_id, CAST(sum($wordCount) AS INTEGER) AS n_bpe FROM w GROUP BY 1) " +
          "SELECT d.doc_id, CAST(len(string_split(d.text,' ')) AS INTEGER) AS n_ws, " +
          "coalesce(c.n_bpe, 0) AS n_bpe, " +
          "round(CAST(coalesce(c.n_bpe, 0) AS DOUBLE)/len(string_split(d.text,' ')), 4) AS bpe_per_word " +
          "FROM documents d LEFT JOIN c USING (doc_id) ORDER BY d.doc_id"
      }),

    DeclaredQuery(
      "q_ext_txt2",
      (s, d) =>
        Tables.load(s, d, "documents")
          .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
          .filter(!col("tok").isin(stop: _*))
          .groupBy("tok").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("tok"))
          .limit(20),
      Some(
        "SELECT tok, count(*) AS n FROM (SELECT unnest(string_split(text,' ')) AS tok FROM documents) " +
          s"WHERE tok NOT IN $stopIn GROUP BY 1 ORDER BY n DESC, tok LIMIT 20")),

    DeclaredQuery(
      "q_ext_txt3",
      (s, d) =>
        Tables.load(s, d, "documents")
          .select(col("doc_id"),
            TextFunctions.charCount(col("text")).as("len"),
            f4(TextFunctions.punctRatio(col("text"))).as("punct_ratio"),
            f4(TextFunctions.stopwordRatio(col("text"))).as("stop_ratio"),
            f4(TextFunctions.qualityScore(col("text"))).as("quality"))
          .orderBy("doc_id"),
      Some(
        "SELECT doc_id, CAST(length(text) AS INTEGER) AS len, " +
          "floor(CAST(length(regexp_replace(lower(text),'[a-z0-9 ]','','g')) AS DOUBLE)/length(text)*10000)/10000 AS punct_ratio, " +
          s"floor(CAST(len(list_filter(string_split(text,' '), t -> t IN $stopIn)) AS DOUBLE)/len(string_split(text,' '))*10000)/10000 AS stop_ratio, " +
          s"floor($qualitySqlExpr*10000)/10000 AS quality " +
          "FROM documents ORDER BY doc_id")),

    DeclaredQuery(
      "q_ext_lang1",
      (s, d) =>
        Tables.load(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            TextFunctions.langId(col("text")).as("lang_pred"))
          .orderBy("doc_id"),
      Some {
        def lst(lang: String) =
          TextFunctions.langStopwords.toMap.apply(lang).map(w => s"'$w'").mkString("[", ",", "]")
        val g = "greatest(s_en,s_es,s_fr,s_de)"
        "WITH w AS (SELECT doc_id, lang, list_distinct(string_split(text,' ')) toks FROM documents), " +
          s"sc AS (SELECT doc_id, lang, len(list_intersect(toks, ${lst("en")})) s_en, " +
          s"len(list_intersect(toks, ${lst("es")})) s_es, len(list_intersect(toks, ${lst("fr")})) s_fr, " +
          s"len(list_intersect(toks, ${lst("de")})) s_de FROM w) " +
          s"SELECT doc_id, lang, CASE WHEN $g <= 0 THEN 'und' WHEN s_en = $g THEN 'en' " +
          s"WHEN s_es = $g THEN 'es' WHEN s_fr = $g THEN 'fr' WHEN s_de = $g THEN 'de' " +
          "ELSE 'und' END AS lang_pred FROM sc ORDER BY doc_id"
      }),

    // TF-IDF top terms per doc (integer-scaled idf: exact cross-engine
    // arithmetic — libm ln() differs in the last ulp between engines and
    // flips ranks on near-ties)
    DeclaredQuery(
      "q_ext_txt4",
      (s, d) =>
        TextAnalysis.tfIdfTopTerms(Tables.load(s, d, "documents"), "doc_id", "text", k = 3)
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id", "rn"),
      Some(
        "WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) tok FROM documents), " +
          "tf AS (SELECT doc_id, tok, count(*) tf FROM tok GROUP BY 1,2), " +
          "dfreq AS (SELECT tok, count(*) df FROM tf GROUP BY 1), " +
          "n AS (SELECT count(*) n FROM documents), " +
          "scored AS (SELECT doc_id, tok, tf * ((n.n * 10000) // dfreq.df) AS score " +
          "FROM tf JOIN dfreq USING (tok) CROSS JOIN n), " +
          "ranked AS (SELECT doc_id, tok, score, " +
          "CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS INTEGER) rn FROM scored) " +
          "SELECT doc_id, rn, tok, score FROM ranked WHERE rn <= 3 ORDER BY doc_id, rn")),

    // repetition-based quality signals (Gopher-style): duplicate-word
    // fraction and top-word dominance per doc — the filter a pretraining
    // pipeline applies BEFORE dedup to drop template/spam pages. Exact
    // integer ratios rounded at 4 decimals, identical SQL shape on DuckDB.
    DeclaredQuery(
      "q_ext_txt5",
      (s, d) =>
        TextAnalysis.repetitionStats(Tables.load(s, d, "documents"), "doc_id", "text")
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id"),
      Some(
        "WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), " +
          "c AS (SELECT doc_id, word, count(*) AS cnt FROM w GROUP BY 1, 2) " +
          "SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words, count(*) AS n_distinct, " +
          "round(1.0 - count(*) / CAST(sum(cnt) AS DOUBLE), 4) AS dup_frac, " +
          "round(max(cnt) / CAST(sum(cnt) AS DOUBLE), 4) AS top_frac " +
          "FROM c GROUP BY 1 ORDER BY 1")),

    DeclaredQuery(
      "q_ext_fp1",
      (s, d) =>
        Tables.load(s, d, "documents")
          .groupBy(TextFunctions.fingerprintMd5(col("text")).as("fp"))
          .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keep_id"))
          .orderBy("fp"),
      Some(
        "SELECT md5(text) AS fp, count(*) AS n, min(doc_id) AS keep_id " +
          "FROM documents GROUP BY 1 ORDER BY 1")),

    // positional inverted-index PHRASE search: the corpus's top word
    // 3-gram (count-desc, lexicographic tie-break — derived in-plan, no
    // collect) searched as an exact word sequence through a postings list
    // (token, doc, position) with offset-alignment voting. Only the phrase
    // words' postings reach a shuffle (broadcast word filter), so search
    // cost is bounded by those words' document frequency, not corpus size.
    DeclaredQuery(
      "q_ext_search1",
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        TextAnalysis.phraseOccurrences(docs, "doc_id", "text",
            TextAnalysis.topPhrase(docs, "text", n = 3))
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id")
      },
      Some(
        "WITH words AS (SELECT doc_id, string_split(text,' ') w FROM documents), " +
          "sh AS (SELECT doc_id, unnest(list_transform(" +
          "generate_series(1, greatest(len(w)-2,0)), i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS g FROM words), " +
          "top AS (SELECT g FROM sh GROUP BY g ORDER BY count(*) DESC, g LIMIT 1) " +
          "SELECT doc_id, g AS phrase, count(*) AS n_occ FROM sh JOIN top USING (g) " +
          "GROUP BY 1, 2 ORDER BY doc_id")),

    // ---- dedup ----
    DeclaredQuery(
      "q_ext_dedup2",
      (s, d) =>
        Dedup.jaccardPairs(Tables.load(s, d, "documents"), "doc_id", "text",
            threshold = 0.6, shingleN = 3)
          .select(col("d1"), col("d2"), f4(col("jac")).as("jac"))
          .orderBy("d1", "d2"),
      Some(jaccardSql(0.6))),

    DeclaredQuery(
      "q_ext_dedup3",
      (s, d) =>
        Dedup.minHashPairs(Tables.load(s, d, "documents"), "doc_id", "text",
            threshold = 0.8, numBands = 16, rowsPerBand = 2, shingleN = 3)
          .select(col("d1"), col("d2"), f4(col("jac")).as("jac"))
          .orderBy("d1", "d2"),
      Some(jaccardSql(0.8))),

    // substring-level SELF-duplication coverage (Lee et al. 2022): a token
    // position is duplicated if any word 3-gram covering it occurs >= 2
    // times corpus-wide; overlapping/adjacent duplicated spans merge into
    // maximal islands, and each document reports duplicated-token count +
    // coverage — the sub-document signal document-level dedup can't see.
    // Oracle recomputes positional n-grams, global counts, and the
    // gaps-and-islands merge in SQL.
    DeclaredQuery(
      "q_ext_dedup9",
      (s, d) =>
        graft.operators.TextAnalysis.duplicatedNgramSpans(
            Tables.load(s, d, "documents"), "doc_id", "text", shingleN = 3, minCount = 2L)
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id"),
      Some(
        "WITH t AS (SELECT doc_id, string_split(text,' ') AS l FROM documents), " +
          "pos AS (SELECT doc_id, unnest(generate_series(1, len(l)-2)) AS i, l FROM t), " +
          "ng AS (SELECT doc_id, i, array_to_string(l[i:i+2], ' ') AS ng FROM pos), " +
          "c AS (SELECT ng, count(*) AS c FROM ng GROUP BY 1), " +
          "sp AS (SELECT g.doc_id, g.i AS s, g.i+2 AS e FROM ng g JOIN c ON g.ng = c.ng WHERE c.c >= 2), " +
          "m AS (SELECT doc_id, s, e, max(e) OVER (PARTITION BY doc_id ORDER BY s " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe FROM sp), " +
          "f AS (SELECT doc_id, s, e, CASE WHEN maxe IS NULL OR s > maxe + 1 THEN 1 ELSE 0 END AS ni FROM m), " +
          "g2 AS (SELECT doc_id, s, e, sum(ni) OVER (PARTITION BY doc_id ORDER BY s) AS isl FROM f), " +
          "isl AS (SELECT doc_id, isl, min(s) AS s, max(e) AS e FROM g2 GROUP BY 1, 2), " +
          "pd AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_spans, " +
          "CAST(sum(e-s+1) AS BIGINT) AS dup_tokens FROM isl GROUP BY 1) " +
          "SELECT t.doc_id, len(t.l) AS dl, coalesce(pd.n_spans, 0) AS n_spans, " +
          "coalesce(pd.dup_tokens, 0) AS dup_tokens, " +
          "round(CAST(coalesce(pd.dup_tokens, 0) AS DOUBLE) / len(t.l), 4) AS dup_frac " +
          "FROM t LEFT JOIN pd ON t.doc_id = pd.doc_id ORDER BY t.doc_id")),

    // cross-corpus dedup: incoming batch (doc_id % 10 == 0) against the
    // existing corpus — the incremental-ingest / decontamination form.
    // Oracle is the exact cross-set Jaccard SQL.
    DeclaredQuery(
      "q_ext_dedup7",
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        Dedup.jaccardPairsBetween(
            docs.filter(col("doc_id") % 10 === 0),
            docs.filter(col("doc_id") % 10 =!= 0),
            "doc_id", "text", threshold = 0.6, shingleN = 3)
          .select(col("d1"), col("d2"), f4(col("jac")).as("jac"))
          .orderBy("d1", "d2")
      },
      Some(
        s"WITH $jaccardCtes2 " +
          "SELECT i.d1, i.d2, floor(CAST(c AS DOUBLE)/(sa.sz+sb.sz-c)*10000)/10000 AS jac " +
          "FROM inter2 i JOIN sz2 sa ON sa.doc_id=i.d1 JOIN sz2 sb ON sb.doc_id=i.d2 " +
          "WHERE CAST(c AS DOUBLE)/(sa.sz+sb.sz-c) >= 0.6 ORDER BY 1,2")),

    // train/eval n-gram DECONTAMINATION (GPT-3-style overlap check): which
    // train-side documents contain any eval-set 3-gram, and how much of
    // each is contaminated. The train explode is bloom-prefiltered on the
    // eval n-gram set before its shuffle (BloomJoin), so the exchange
    // carries ~hits, not the corpus; the exact join removes false
    // positives → the oracle is the plain exact-overlap SQL.
    DeclaredQuery(
      "q_ext_decon1",
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        TextAnalysis.ngramContamination(
            docs.filter(col("doc_id") % 10 =!= 0),
            docs.filter(col("doc_id") % 10 === 0),
            "doc_id", "text", shingleN = 3, expectedEvalNgrams = 200000L)
          .orderBy("doc_id")
      },
      Some(
        "WITH words AS (SELECT doc_id, string_split(text,' ') w FROM documents), " +
          "tok AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
          "generate_series(1, greatest(len(w)-2,0)), i -> w[i]||' '||w[i+1]||' '||w[i+2]))) AS tok FROM words), " +
          "ev AS (SELECT DISTINCT tok FROM tok WHERE doc_id % 10 = 0), " +
          "tr AS (SELECT doc_id, tok FROM tok WHERE doc_id % 10 <> 0), " +
          "sz AS (SELECT doc_id, count(*) n_ngrams FROM tr GROUP BY 1), " +
          "h AS (SELECT tr.doc_id, count(*) n_hits, min(tr.tok) first_hit " +
          "FROM tr JOIN ev ON tr.tok = ev.tok GROUP BY 1) " +
          "SELECT h.doc_id, n_hits, n_ngrams, " +
          "round(CAST(n_hits AS DOUBLE)/n_ngrams, 4) AS contamination, first_hit " +
          "FROM h JOIN sz ON h.doc_id = sz.doc_id ORDER BY h.doc_id")),

    // incremental dedup via the persisted MinHash store: the corpus side
    // (doc_id % 10 <> 0) is signed ONCE into a band/signature store; the
    // incoming batch (doc_id % 10 = 0) dedups against the store without
    // re-reading corpus text — the per-ingest-tick shape at 100 TB. jac is
    // exactly verified over stored shingle-hash sets, so the oracle is the
    // same exact cross-corpus SQL as q_ext_dedup7 at τ=0.8 (banding miss
    // < 1e-7 per true pair at s ≥ 0.8 with 16×2).
    DeclaredQuery(
      "q_ext_dedup8",
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val dir = "target/tmp/minhash_store/q_ext_dedup8"
        Dedup.buildMinHashStore(docs.filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text", dir)
        Dedup.minHashPairsAgainstStore(docs.filter(col("doc_id") % 10 === 0),
            "doc_id", "text", dir, threshold = 0.8)
          .select(col("d1"), col("d2"), f4(col("jac")).as("jac"))
          .orderBy("d1", "d2")
      },
      Some(
        s"WITH $jaccardCtes2 " +
          "SELECT i.d1, i.d2, floor(CAST(c AS DOUBLE)/(sa.sz+sb.sz-c)*10000)/10000 AS jac " +
          "FROM inter2 i JOIN sz2 sa ON sa.doc_id=i.d1 JOIN sz2 sb ON sb.doc_id=i.d2 " +
          "WHERE CAST(c AS DOUBLE)/(sa.sz+sb.sz-c) >= 0.8 ORDER BY 1,2")),

    // deterministic train/val/test split: md5-prefix bucket of the key —
    // engine-portable and stable under repartitioning/re-ingestion (a
    // rand(seed) split is neither)
    DeclaredQuery(
      "q_ext_split1",
      (s, d) =>
        graft.operators.Curation.assignSplit(Tables.load(s, d, "documents"),
            "doc_id", Seq("train" -> 8, "val" -> 1, "test" -> 1))
          .select(col("doc_id"), col("split"))
          .orderBy("doc_id"),
      Some(
        // CAST AS STRING: valid in both engines (DuckDB aliases STRING to
        // VARCHAR; Spark's VARCHAR demands a length) — the text runs on both
        "SELECT doc_id, CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val' ELSE 'test' END AS split " +
          "FROM (SELECT doc_id, (ascii(substr(md5(CAST(doc_id AS STRING)),1,1))*256 " +
          "+ ascii(substr(md5(CAST(doc_id AS STRING)),2,1))) % 10 AS b FROM documents) " +
          "ORDER BY doc_id")),

    // leakage-safe split: an exact-duplicate CLUSTER (same text bytes) must
    // land wholly inside one split — per-row bucketing would put identical
    // documents on both sides of train/test. Split decided by the md5
    // bucket of the cluster representative (min doc_id over the text
    // group); one shuffle on the text hash, no collect.
    DeclaredQuery(
      "q_ext_split2",
      (s, d) =>
        graft.operators.Curation.assignSplitByGroup(
            Tables.load(s, d, "documents"),
            "doc_id", md5(col("text").cast("binary")),
            Seq("train" -> 8, "val" -> 1, "test" -> 1))
          .select(col("doc_id"), col("split"))
          .orderBy("doc_id"),
      Some(
        "SELECT doc_id, CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val' ELSE 'test' END AS split " +
          "FROM (SELECT doc_id, (ascii(substr(md5(CAST(rep AS STRING)),1,1))*256 " +
          "+ ascii(substr(md5(CAST(rep AS STRING)),2,1))) % 10 AS b " +
          "FROM (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep FROM documents)) " +
          "ORDER BY doc_id")),

    // token-budget corpus mixing: per source, a deterministic md5-ordered
    // prefix capped at 20k tokens — "take up to N tokens of each source",
    // the knob an LLM data recipe actually turns. Window per source
    // partition; no global order, no collect.
    DeclaredQuery(
      "q_ext_mix2",
      (s, d) =>
        graft.operators.Curation.sampleToTokenBudget(
            Tables.load(s, d, "documents"),
            "doc_id", "source",
            TextFunctions.tokenCount(col("text")).cast("long"), budgetTokens = 20000L)
          .select(col("doc_id"), col("source"), col("n_tok"), col("cum_tok"))
          .orderBy("doc_id"),
      Some(
        "WITH t AS (SELECT doc_id, source, CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok, " +
          "md5(CAST(doc_id AS STRING)) AS h FROM documents), " +
          "c AS (SELECT doc_id, source, n_tok, CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS cum_tok FROM t) " +
          "SELECT doc_id, source, n_tok, cum_tok FROM c WHERE cum_tok <= 20000 ORDER BY doc_id")),

    // temperature-weighted mixing (alpha = 0.5): each language's share of
    // the 250-row budget ∝ sqrt(n_lang) — the multilingual-LM sampling rule
    // that up-weights small languages against the English-heavy natural
    // distribution (en is ~44% of this corpus but gets ~27% of the tempered
    // budget). Weights integer-scaled (floor(sqrt·1000)), the split is
    // integer rational arithmetic, each group contributes its md5-ordered
    // prefix — deterministic end to end, identically in the oracle.
    DeclaredQuery(
      "q_ext_mix3",
      (s, d) =>
        graft.operators.Curation.sampleTemperature(
            Tables.load(s, d, "documents"), "doc_id", "lang",
            budgetRows = 250L, alpha = 0.5)
          .select(col("doc_id"), col("lang"),
            col("grp_rank").cast("int").as("grp_rank"), col("grp_budget"))
          .orderBy("doc_id"),
      Some(
        "WITH sz AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1), " +
          "w AS (SELECT lang, n, CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000) AS BIGINT) AS s FROM sz), " +
          "t AS (SELECT sum(s) AS tot FROM w), " +
          "b AS (SELECT lang, least(n, CAST(250 * s // tot AS BIGINT)) AS grp_budget FROM w, t), " +
          "r AS (SELECT doc_id, lang, CAST(row_number() OVER (PARTITION BY lang " +
          "ORDER BY md5(CAST(doc_id AS STRING)), doc_id) AS BIGINT) AS grp_rank FROM documents) " +
          "SELECT r.doc_id, r.lang, CAST(r.grp_rank AS INTEGER) AS grp_rank, b.grp_budget " +
          "FROM r JOIN b ON r.lang = b.lang WHERE r.grp_rank <= b.grp_budget ORDER BY r.doc_id")),

    // sequence packing: shard by key, contiguous-fill fixed-capacity token
    // bins in key order (the batch-assembly step before training)
    DeclaredQuery(
      "q_ext_pack1",
      (s, d) =>
        graft.operators.Curation.packSequences(Tables.load(s, d, "documents"),
            "doc_id", TextFunctions.tokenCount(col("text")).cast("long"),
            numShards = 8, capacity = 2048)
          .select(col("doc_id"), col("shard"), col("bin"), col("bin_offset"), col("n_tok"))
          .orderBy("doc_id"),
      Some(
        "WITH t AS (SELECT doc_id, doc_id % 8 AS shard, " +
          "CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok FROM documents), " +
          "c AS (SELECT doc_id, shard, n_tok, sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS start_tok FROM t) " +
          "SELECT doc_id, shard, CAST(floor(start_tok/2048.0) AS BIGINT) AS bin, " +
          "CAST(start_tok % 2048 AS BIGINT) AS bin_offset, n_tok FROM c ORDER BY doc_id")),

    // q_ext_pack1's contiguous-fill packing run under REAL SUBWORD budgets
    // (the tokenizer= seam load-bearing in an operator, not just a count
    // column): identical one-shuffle window plan, but every bin boundary
    // is decided by the greedy merges-table BPE count — the unit a trainer
    // actually packs to. The oracle re-derives the same per-doc counts
    // from the same Scala merges source (the q_ext_tok1 replace-chain) and
    // re-runs pack1's running-sum SQL over them, so a single token of
    // cross-engine BPE drift anywhere in the corpus shifts a bin boundary
    // and breaks the hash.
    DeclaredQuery(
      "q_ext_tok2",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        graft.operators.Curation.packSequences(Tables.load(s, d, "documents"),
            "doc_id", TextFunctions.bpeTokenCount(col("text")).cast("long"),
            numShards = 8, capacity = 2048)
          .select(col("doc_id"), col("shard"), col("bin"), col("bin_offset"), col("n_tok"))
          .orderBy("doc_id")
      },
      Some {
        val wordCount = graft.functions.BpeTokenizer.default.oracleCountSqlExpr("w")
        "WITH w AS (SELECT doc_id, unnest(regexp_extract_all(lower(text)," +
          "'[a-z]+|[0-9]+|[^a-z0-9 ]')) AS w FROM documents), " +
          s"nb AS (SELECT doc_id, CAST(sum($wordCount) AS BIGINT) AS n_tok FROM w GROUP BY 1), " +
          "t AS (SELECT d.doc_id, d.doc_id % 8 AS shard, coalesce(nb.n_tok, 0) AS n_tok " +
          "FROM documents d LEFT JOIN nb USING (doc_id)), " +
          "c AS (SELECT doc_id, shard, n_tok, sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS start_tok FROM t) " +
          "SELECT doc_id, shard, CAST(floor(start_tok/2048.0) AS BIGINT) AS bin, " +
          "CAST(start_tok % 2048 AS BIGINT) AS bin_offset, n_tok FROM c ORDER BY doc_id"
      }),

    // PRODUCTION-SIZED BPE on the gate (r11 verdict task 4): the 24-merge
    // default is bounded by its replace-chain oracle's 26 ASCII
    // placeholders; this tier runs the same greedy algorithm over the
    // checked-in 1.5k-rank resource table (trained deterministically from
    // the fixture corpus by graft.tools.BpeTrain — letter merges from the
    // text surfaces, multi-level digit merges from the id-bearing name
    // columns, the shape real tables carry for numerals). The oracle is a
    // lookup JOIN, not a replace chain: per-word expected counts for the
    // checked-in probe-word list (the 800 most frequent corpus words) are
    // derived from the SAME BpeTokenizer.large at oracle-build time and
    // inlined as VALUES, so the two engines cannot drift — and BpeSpec
    // property-tests greedy ≡ in-rank-order-replacement at this table size,
    // so the shared source is itself cross-checked. The codegen'd
    // expression runs once per word OCCURRENCE (pre-aggregation), so the
    // gate exercises the per-row hot path at corpus scale, not 800 lookups;
    // probe words absent at a scale drop from both sides (inner join), so
    // the query is scale-stable by construction.
    DeclaredQuery(
      "q_ext_tok3",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val probe = s.createDataset(graft.functions.BpeTokenizer.probeWords)(
          org.apache.spark.sql.Encoders.STRING).toDF("w")
        def words(df: org.apache.spark.sql.DataFrame, c: String) = df.select(
          explode(regexp_extract_all(lower(col(c)),
            lit(TextFunctions.bpeishPattern), lit(0))).as("w"))
        words(Tables.load(s, d, "documents"), "text")
          .unionByName(words(Tables.load(s, d, "customer"), "c_name"))
          .join(broadcast(probe), "w")
          .groupBy("w")
          .agg(count(lit(1)).as("n_occ"),
            sum(TextFunctions.bpeTokenCountLarge(col("w")).cast("long")).as("n_bpe_sum"))
          .orderBy("w")
      },
      Some {
        val tok = graft.functions.BpeTokenizer.large
        val values = graft.functions.BpeTokenizer.probeWords
          .map(w => s"('${w.replace("'", "''")}',${tok.encodeWord(w).length})")
          .mkString(",")
        s"WITH probe(w, c) AS (SELECT * FROM (VALUES $values)), " +
          "toks AS (SELECT unnest(regexp_extract_all(lower(text),'[a-z]+|[0-9]+|[^a-z0-9 ]')) AS w FROM documents " +
          "UNION ALL SELECT unnest(regexp_extract_all(lower(c_name),'[a-z]+|[0-9]+|[^a-z0-9 ]')) AS w FROM customer) " +
          "SELECT t.w AS w, count(*) AS n_occ, CAST(count(*) * p.c AS BIGINT) AS n_bpe_sum " +
          "FROM toks t JOIN probe p ON t.w = p.w GROUP BY t.w, p.c ORDER BY w"
      }),

    // sequence-length bucketing + padding-waste report (the batching-
    // efficiency audit run before fixing bucket boundaries): power-of-two
    // round-up with maxBucket truncation accounting — one map-side-
    // combinable aggregation, output bounded by the bucket count
    DeclaredQuery(
      "q_ext_pack2",
      (s, d) =>
        graft.operators.Curation.lengthBucketStats(
            Tables.load(s, d, "documents"),
            TextFunctions.tokenCount(col("text")), minBucket = 16, maxBucket = 128)
          .select(col("bucket"), col("n_docs"), col("n_trunc"),
            col("used_tok"), col("padded_slots"), f4(col("waste_frac")).as("waste_frac"))
          .orderBy("bucket"),
      Some(
        "WITH t AS (SELECT CAST(len(string_split(text,' ')) AS BIGINT) AS n FROM documents), " +
          "b AS (SELECT CAST(CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32 " +
          "WHEN n <= 64 THEN 64 ELSE 128 END AS BIGINT) AS bucket, n FROM t) " +
          "SELECT bucket, count(*) AS n_docs, " +
          "CAST(sum(CASE WHEN n > bucket THEN 1 ELSE 0 END) AS BIGINT) AS n_trunc, " +
          "CAST(sum(least(n, bucket)) AS BIGINT) AS used_tok, " +
          "bucket * count(*) AS padded_slots, " +
          "floor((1.0 - CAST(sum(least(n, bucket)) AS DOUBLE)/(bucket*count(*)))*10000)/10000 AS waste_frac " +
          "FROM b GROUP BY 1 ORDER BY 1")),

    // PII-style masking + well-formedness flag (curation before a corpus
    // leaves the pipeline); the mask is the same SQL text on both engines
    DeclaredQuery(
      "q_ext_pii1",
      (s, d) =>
        Tables.load(s, d, "customer")
          .select(col("c_custkey"),
            graft.operators.Curation.maskTail("c_name", 4).as("masked_name"),
            col("c_name").rlike("^Customer#[0-9]+$").as("well_formed"))
          .orderBy("c_custkey"),
      Some(
        "SELECT c_custkey, repeat('*', greatest(length(c_name)-4,0)) || right(c_name,4) AS masked_name, " +
          "regexp_matches(c_name, '^Customer#[0-9]+$') AS well_formed " +
          "FROM customer ORDER BY c_custkey")),

    // corpus mixing by weight — the mixture-sampling step of training-data
    // assembly: the 20 sources split into 4 corpora (by source index mod 4)
    // mixed at 25/50/75/100% via the deterministic md5-bucket filter
    // (reproducible, nested samples — raising a weight only ADDS rows).
    // Oracle: the same bucket arithmetic inline over the one table.
    DeclaredQuery(
      "q_ext_mix1",
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val idx = regexp_extract(col("source"), "([0-9]+)", 1).cast("int")
        val corpora = (0 until 4).map { i =>
          (docs.filter(idx % 4 === i), (i + 1) / 4.0)
        }
        graft.operators.Curation.mixCorpora(corpora, "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("first_doc"))
          .orderBy("source")
      },
      Some {
        // uniformBucket16 inline: 4 md5 hex digits parsed positionally
        def dv(k: Int) =
          s"(ascii(substr(md5(CAST(doc_id AS STRING)),$k,1)) - " +
            s"CASE WHEN ascii(substr(md5(CAST(doc_id AS STRING)),$k,1)) >= 97 THEN 87 ELSE 48 END)"
        val v = s"(${dv(1)}*4096 + ${dv(2)}*256 + ${dv(3)}*16 + ${dv(4)})"
        "SELECT source, count(*) AS n_kept, min(doc_id) AS first_doc FROM documents " +
          s"WHERE $v < CAST(round(((CAST(regexp_extract(source, '([0-9]+)', 1) AS INTEGER) % 4 + 1) / 4.0) * 65536) AS BIGINT) " +
          "GROUP BY 1 ORDER BY 1"
      }),

    // sharded corpus export: the trainer handoff — md5-bucketed shard
    // membership (reproducible across re-exports, unlike rand()), one
    // writer task per shard, manifest computed from the written files (disk
    // truth). The query re-reads the export and checks per-shard counts AND
    // per-shard content sums against DuckDB computing the same md5 buckets
    // directly — a full round-trip proof. n_bytes stays out of the declared
    // output (physical size is engine-specific); CurationSpec asserts it.
    DeclaredQuery(
      "q_ext_shard1",
      (s, d) => {
        // per-run unique dir: concurrent suites in one working directory
        // must not race on an overwrite mid-manifest-read
        val dir = s"target/tmp/q_ext_shard1/${java.util.UUID.randomUUID}"
        val manifest = graft.operators.Curation.exportShards(
          Tables.load(s, d, "documents"), "doc_id", 8, dir)
        val back = s.read.parquet(dir).groupBy("shard")
          .agg(sum(col("n_chars")).as("chars"), min(col("doc_id")).as("first_doc"))
        val joined = manifest.join(back, "shard")
          .select(col("shard").cast("int").as("shard"), col("n_rows"),
            col("chars"), col("first_doc"))
          .orderBy("shard")
        // materialize the 8-row comparison (one row per shard — metadata-
        // sized), then remove the export: repeated bench/verify runs must
        // not accumulate unbounded UUID dirs on disk. The returned frame is
        // the collected rows, so downstream evaluation never touches `dir`.
        val rows = joined.collect().toIndexedSeq
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
        s.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
          joined.schema).orderBy("shard")
      },
      Some(
        "SELECT CAST((ascii(substr(md5(CAST(doc_id AS STRING)),1,1))*256 " +
          "+ ascii(substr(md5(CAST(doc_id AS STRING)),2,1))) % 8 AS INTEGER) AS shard, " +
          "count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS chars, min(doc_id) AS first_doc " +
          "FROM documents GROUP BY 1 ORDER BY 1")),

    // SimHash-guarded exact near-dup pairs: the emitted rows are the exact
    // word-3-gram Jaccard pairs at τ=0.9 (DuckDB-checkable), and the plan
    // also runs the SimHash banding candidate generator (auto geometry —
    // complete for hamming <= 7 when no bucket is over-cap) and fails
    // loudly — raise_error, a FAIL row, not a silent quality drift — if it
    // recalls less than half of the true pairs. xxhash64 signatures aren't
    // DuckDB-reproducible, so the guard is how the SimHash path sits on the
    // oracle gate (the q_agg3_approx promotion pattern). The documents are
    // template-generated, so even jac≈0.9 pairs sit at hamming 4–14, which
    // is why the 4-block/dist<=3 form this query originally used found only
    // 16–20% of them. Both knobs keep their defaults, which size by the
    // corpus count (numBlocks=0 → autoSimHashBlocks, maxBucket=0 →
    // autoSimHashBucketCap), NOT pinned values: the round-15 sf30 value
    // sweep proved the pinned 8-block form
    // collapses at 1.5 M docs (recall 0.27 — every 8-bit bucket goes
    // over-cap and the sub-split's bounded-sample backstop drops most true
    // pairs), and the census probe then showed a pinned 800 cap is
    // scale-wrong in the OPPOSITE direction even under auto geometry (19%
    // of banded rows over-cap at 9 blocks → the hot-census sub-split
    // path, >40 min, vs hot=0 → the complete fast path in ~35 s at the
    // same scale). Under both rules every driver scale (<= 65 536 docs for
    // blocks, <= 80 000 for the cap) resolves to the historical
    // 8-block/cap-800 plan byte-for-byte — the hot-bucket sub-split stays
    // ACTIVE at bench scale (template corpora concentrate 8-bit block
    // values) with measured recall 0.84 (sf0.01) / 0.77 (sf0.1) /
    // 0.78 (sf1) — while at sf30 the geometry widens to 9 blocks/36
    // tables/14-bit keys and the cap rises to 15 000 (census max bucket:
    // 4 530), so the banding is complete and recall is bounded only by the
    // hamming spread, not by sampling.
    // The exact oracle arm ranks a COUNT-SCALED deterministic anchor subset
    // (doc_id % max(1, ⌊n/500⌋) = 0 — every doc at sf0.01, ~500 at any
    // larger scale, the modulus derived in-plan from a 1-row count agg,
    // identically in the oracle SQL): emitted pairs are those with an
    // anchor endpoint, so the oracle-gate scaffolding's shingle join is
    // anchor-tokens × corpus-tokens — O(500·n) — instead of the full
    // corpus self-join (the q_ext_sim4 re-plan pattern; the unconditioned
    // arm was the round-9 bench's one 2×-gate breach). The SimHash guard is
    // statistically unchanged: recall measured against the ~500 anchored
    // exact top pairs instead of all pairs.
    DeclaredQuery(
      "q_ext_dedup4",
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        // anchored exact pairs (shared with DedupRecallProbe so the probe's
        // timings reflect this query's physical plan — see
        // Dedup.anchoredJaccardPairs for normalization + checkpoint notes)
        val exact = Dedup.anchoredJaccardPairs(docs, "doc_id", "text",
          targetAnchors = 500L, threshold = 0.9, shingleN = 3)
        // cap floor 800 (auto rule): measured candidate recall 0.84
        // (sf0.01) / 0.77 (sf0.1) / 0.78 (sf1) vs 0.84/0.81/0.86 at the
        // previous pinned 1500 — well clear of the 0.5 guard at every
        // driver scale, for ~40% less banding-join fan-out (the operator's
        // dominant cost)
        val cand = Dedup.simHashPairs(docs, "doc_id", "text", maxDist = 7)
          .select(col("d1"), col("d2"))
        exact.crossJoin(broadcast(pairRecall(exact, cand, Seq("d1", "d2"))))
          .select(col("d1"), col("d2"),
            when(col("recall") >= 0.5, f4(col("jac")))
              .otherwise(raise_error(concat(
                lit("q_ext_dedup4: SimHash candidate recall "),
                col("recall").cast("string"), lit(" below 0.5")))).as("jac"))
          .orderBy("d1", "d2")
      },
      Some(
        s"WITH $jaccardCtes, " +
          "qd AS (SELECT greatest(1, CAST(floor(count(*) / 500.0) AS BIGINT)) AS qdiv FROM documents) " +
          "SELECT i.d1, i.d2, floor(CAST(c AS DOUBLE)/(sa.sz+sb.sz-c)*10000)/10000 AS jac " +
          "FROM inter i JOIN sz sa ON sa.doc_id=i.d1 JOIN sz sb ON sb.doc_id=i.d2 " +
          "WHERE CAST(c AS DOUBLE)/(sa.sz+sb.sz-c) >= 0.9 " +
          "AND (i.d1 % (SELECT qdiv FROM qd) = 0 OR i.d2 % (SELECT qdiv FROM qd) = 0) " +
          "ORDER BY 1,2")),

    // ---- similarity search ----
    DeclaredQuery(
      "q_ext_sim1",
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
          .select(col("qid"), col("rn"), col("nid"), r4(col("cos")).as("cos"))
          .orderBy("qid", "rn")
      },
      Some(cosineTopKSql("vec_id < 5", 10))),

    // SRP-LSH guarded exact top-k: the emitted rows are the exact cosine
    // top-10 for query vectors 5..9 (full-precision ranking — the same dot
    // order as the DuckDB oracle), and the plan also runs the multi-table
    // SRP-LSH candidate search (16 tables × 3 planes) and raise_errors if
    // its top-k recalls less than 75% of the exact top-k. xxhash64-seeded
    // projections aren't DuckDB-reproducible; the guard is how the LSH path
    // sits on the oracle gate. Measured recall: 0.94 (sf0.01) / 0.98
    // (sf0.1); the 8×4 tables-planes form measured only 0.58–0.70 on these
    // near-uniform synthetic embeddings — planes-per-table is the
    // selectivity lever, and 64-dim random vectors need shallower buckets
    // than clustered real-world embeddings.
    DeclaredQuery(
      "q_ext_sim2",
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        val q = emb.filter(col("vec_id") >= 5 && col("vec_id") < 10)
        // k·|q| rows, referenced by both the output and the recall guard —
        // localCheckpoint'd so the scoring cross join runs once
        val exact = Similarity.cosineTopK(emb, q, "vec_id", "embedding", k = 10)
          .localCheckpoint()
        val cand = Similarity.lshCosineTopK(emb, q, "vec_id", "embedding",
            k = 10, numTables = 16, planesPerTable = 3)
          .select(col("qid"), col("nid"))
        exact.crossJoin(broadcast(pairRecall(exact, cand, Seq("qid", "nid"))))
          .select(col("qid"),
            when(col("recall") >= 0.75, col("rn"))
              .otherwise(raise_error(concat(
                lit("q_ext_sim2: LSH top-k recall "),
                col("recall").cast("string"), lit(" below 0.75")))).as("rn"),
            col("nid"), r4(col("cos")).as("cos"))
          .orderBy("qid", "rn")
      },
      Some(cosineTopKSql("vec_id >= 5 AND vec_id < 10", 10))),

    // ---- multimodal binary columns ----
    DeclaredQuery(
      "q_ext_mm1",
      (s, d) =>
        Multimodal.withBinaryPayload(Tables.load(s, d, "documents"), "text", "text/plain")
          .select(col("doc_id"),
            col("meta.n_bytes").as("n_bytes"),
            col("meta.fingerprint").as("fp"),
            substring(base64(col("payload")), 1, 16).as("b64_prefix"))
          .orderBy("doc_id"),
      Some(
        "SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes, md5(text) AS fp, " +
          "substr(base64(CAST(text AS BLOB)),1,16) AS b64_prefix FROM documents ORDER BY doc_id")),

    // near-dup clustering: connected components over exact Jaccard pairs,
    // keep-one-per-cluster (min doc id is the representative). Oracle is a
    // recursive-CTE transitive closure over the same pairs.
    DeclaredQuery(
      "q_ext_dedup6",
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.6, shingleN = 3)
        val comps = Dedup.connectedComponents(pairs)
        docs.select(col("doc_id"))
          .join(comps.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("rep"), col("doc_id")).as("rep_id"),
            (col("doc_id") === coalesce(col("rep"), col("doc_id"))).as("is_keeper"))
          .orderBy("doc_id")
      },
      Some(
        s"WITH RECURSIVE $jaccardCtes, " +
          "pairs AS (SELECT i.d1, i.d2 FROM inter i JOIN sz sa ON sa.doc_id=i.d1 " +
          "JOIN sz sb ON sb.doc_id=i.d2 WHERE CAST(c AS DOUBLE)/(sa.sz+sb.sz-c) >= 0.6), " +
          "edges AS (SELECT d1 u, d2 v FROM pairs UNION ALL SELECT d2, d1 FROM pairs), " +
          "reach(u, v) AS (SELECT u, v FROM edges UNION " +
          "SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u), " +
          "rep AS (SELECT u AS doc_id, least(min(v), u) AS rep FROM reach GROUP BY u) " +
          "SELECT d.doc_id, coalesce(r.rep, d.doc_id) AS rep_id, " +
          "d.doc_id = coalesce(r.rep, d.doc_id) AS is_keeper " +
          "FROM documents d LEFT JOIN rep r ON d.doc_id = r.doc_id ORDER BY d.doc_id")),

    // embedding-cosine near-dup pairs (LSH-bucketed, exactly verified; the
    // sf0.01/sf0.1 synthetic embeddings have no pairs at τ=0.95 — the
    // oracle confirms the operator emits no false positives — while
    // ScaleGen's jittered replicas (cos ≈ 0.9998) make the result set real
    // at sf1; recall on planted near-dups is asserted in SimilaritySpec).
    // ORACLE COST (r11 verdict task 6): the declared semantics is EVERY
    // τ-pair in the corpus — an all-pairs join by construction — but the
    // DuckDB arm is candidate-BOUNDED per pair without losing a single
    // pair: vectors normalize ONCE in a MATERIALIZED CTE (the old form
    // re-cast both 64-float lists and ran 3 dot products per pair), and
    // the join condition carries a Cauchy–Schwarz prefix bound — for unit
    // vectors, cos(a,b) = dot16(a,b) + suffix_dot ≤ dot16(a,b) + sn_a·sn_b
    // where sn = sqrt(1 − ‖prefix16‖²) — so the full 64-dim cosine runs
    // only on pairs passing a 16-dim test (≈0.1% on this data; the 1e-9
    // slack absorbs float error in the bound, keeping it COMPLETE). The
    // surviving pairs' emitted values still come from the same
    // list_cosine_similarity expression as before — measured value-
    // identical at sf1 and 16× faster (107 s → 6.5 s; a full sf10 arm
    // drops from ~2.5 h to ~11 min, enabling the sf10 dedup/sim sweep).
    DeclaredQuery(
      "q_ext_dedup5",
      (s, d) =>
        Similarity.cosineNearDupPairs(Tables.load(s, d, "embeddings"), "vec_id", "embedding",
            tau = 0.95)
          .select(col("d1"), col("d2"), r4(col("cos")).as("cos"))
          .orderBy("d1", "d2"),
      Some(
        "WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, " +
          "sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm FROM embeddings), " +
          "u AS MATERIALIZED (SELECT vec_id, e, list_transform(e[1:16], x -> x / nrm) AS p16, " +
          "sqrt(greatest(0.0, 1.0 - list_inner_product(list_transform(e[1:16], x -> x / nrm), " +
          "list_transform(e[1:16], x -> x / nrm)))) AS sn FROM e) " +
          "SELECT a.vec_id AS d1, b.vec_id AS d2, round(list_cosine_similarity(a.e, b.e),4) AS cos " +
          "FROM u a JOIN u b ON a.vec_id < b.vec_id " +
          "AND list_inner_product(a.p16, b.p16) + a.sn * b.sn >= 0.95 - 1e-9 " +
          "WHERE list_cosine_similarity(a.e, b.e) >= 0.95 ORDER BY 1, 2")),

    // SemDeDup-style semantic dedup on the oracle gate: the emitted rows
    // are the KEEPER SET of a duplicate graph — one row per connected
    // component (rep = min vec_id) with its size — deterministic and
    // mirrored by a WITH RECURSIVE oracle, while the plan ALSO runs the
    // deployment path: k-means-CELL blocking (Similarity.cellNearDupPairs)
    // sized by the autoCentroids rule, with an in-plan raise_error if the
    // cell candidates recall < 0.7 of the reference pairs. The cell path's
    // pair work is Σ|cell|² (bounded per cell by the sizing rule), never
    // corpus² — and since round 11 the REFERENCE graph is scale-bounded
    // too (the q_ext_sim4 pattern): the planted duplicates are closed-form
    // (cosine is scale-invariant, so each ×2.0 copy pairs with its source
    // at cos = 1.0 by construction, no scoring needed), and the base
    // corpus is exact-verified against a count-scaled deterministic ANCHOR
    // subset (vec_id % max(1, ⌊n/500⌋) = 0 — every vector at sf0.01, ~500
    // anchors beyond, the modulus derived in-plan from a 1-row count agg,
    // identically in the oracle SQL). Reference-graph cost is O(500·n)
    // scoring + O(n/20) closed-form rows, not O(n²) — no corpus²-shaped
    // join remains anywhere in the plan.
    DeclaredQuery(
      "q_ext_dedup10",
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        // the base embeddings are near-uniform (max pairwise cos ~0.5-0.6
        // below sf1), so the dup graph is PLANTED in-plan: a x2.0-scaled
        // copy (exact in float; cosine is scale-invariant, so cos ~ 1.0)
        // of every 20th vector under the collision-free id -vec_id-1 —
        // derived identically by the oracle, non-vacuous at every scale
        val aug = emb.select(col("vec_id"), col("embedding"))
          .unionByName(emb.filter(col("vec_id") % 20 === 0)
            .select((-col("vec_id") - 1).as("vec_id"),
              transform(col("embedding"), x => x * lit(2.0f)).as("embedding")))
        // closed-form planted pairs: -v-1 is the ×2.0 copy of v, and
        // cos(v, 2v) = 1.0 exactly (scale invariance), so the edge needs
        // id arithmetic, not a scoring join; d1 < d2 holds (-v-1 < 0 <= v)
        val planted = emb.filter(col("vec_id") % 20 === 0)
          .select((-col("vec_id") - 1).as("d1"), col("vec_id").as("d2"))
        // count-scaled deterministic anchor subset × corpus: exact-verifies
        // base-corpus near-dups at linear cost; the anchor side is ~500
        // rows by construction, so it broadcasts
        val qDiv = aug.agg(
          greatest(lit(1L), floor(count(lit(1)) / 500.0).cast("long")).as("qdiv"))
        val e1 = aug.select(col("vec_id").as("a"), col("embedding").as("v1"),
          Similarity.norm(col("embedding")).as("n1"))
        val anchors = aug.crossJoin(broadcast(qDiv))
          .filter(col("vec_id") % col("qdiv") === 0)
          .select(col("vec_id").as("b"), col("embedding").as("v2"),
            Similarity.norm(col("embedding")).as("n2"))
        val anchored = e1.crossJoin(broadcast(anchors))
          .filter(col("a") =!= col("b"))
          .withColumn("cos", Similarity.cosinePre(col("v1"), col("v2"), col("n1"), col("n2")))
          .filter(col("cos") >= 0.95)
          .select(least(col("a"), col("b")).as("d1"),
            greatest(col("a"), col("b")).as("d2"))
        // reference duplicate graph (planted ∪ anchor-verified), referenced
        // by both the output and the recall guard — checkpointed so the
        // anchored scoring pass runs once
        val exact = planted.unionByName(anchored)
          .dropDuplicates("d1", "d2")
          .localCheckpoint()
        val kAuto = Similarity.autoCentroids(aug.count())
        val cand = Similarity.cellNearDupPairs(aug, "vec_id", "embedding",
            threshold = 0.95, numCentroids = kAuto)
          .select(col("d1"), col("d2"))
        val comps = Dedup.connectedComponents(exact)
        val members = aug.select(col("vec_id"))
          .join(comps.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
          .withColumn("comp", coalesce(col("rep"), col("vec_id")))
        val sizes = members.groupBy("comp").agg(count(lit(1)).as("n_members"))
        members.filter(col("vec_id") === col("comp"))
          .join(sizes, Seq("comp"))
          .crossJoin(broadcast(pairRecall(exact, cand, Seq("d1", "d2"))))
          .select(col("vec_id"),
            when(col("recall") >= 0.7, col("n_members"))
              .otherwise(raise_error(concat(
                lit("q_ext_dedup10: cell-blocked candidate recall "),
                col("recall").cast("string"), lit(" below 0.7")))).as("n_members"))
          .orderBy("vec_id")
      },
      Some(
        // anchors are a MATERIALIZED CTE, not a scalar-subquery predicate
        // inside the join (r12, the q_ext_graph2 AS MATERIALIZED lesson):
        // DuckDB left the `b.vec_id % (SELECT ...)` filter un-pushed and
        // evaluated the <> join's full |aug|² row stream at sf10 (4.8e10
        // rows — the sweep arm ran for 30+ min before being cut). With the
        // ~500-row anchor side materialized first, the join is |aug|×500.
        "WITH RECURSIVE aug AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) e FROM embeddings " +
          "UNION ALL SELECT -vec_id - 1, list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2) " +
          "FROM embeddings WHERE vec_id % 20 = 0), " +
          "planted AS (SELECT -vec_id - 1 AS d1, vec_id AS d2 FROM embeddings WHERE vec_id % 20 = 0), " +
          "qd AS MATERIALIZED (SELECT greatest(1, CAST(floor(count(*) / 500.0) AS BIGINT)) AS qdiv FROM aug), " +
          "anchors AS MATERIALIZED (SELECT vec_id, e FROM aug WHERE vec_id % (SELECT qdiv FROM qd) = 0), " +
          "anch AS (SELECT least(a.vec_id, b.vec_id) d1, greatest(a.vec_id, b.vec_id) d2 " +
          "FROM aug a JOIN anchors b ON a.vec_id <> b.vec_id " +
          "WHERE list_cosine_similarity(a.e, b.e) >= 0.95), " +
          "p AS (SELECT DISTINCT d1, d2 FROM (SELECT * FROM planted UNION ALL SELECT * FROM anch) u), " +
          "edges AS (SELECT d1 u, d2 v FROM p UNION ALL SELECT d2, d1 FROM p), " +
          "reach(u, v) AS (SELECT u, v FROM edges UNION " +
          "SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u), " +
          "rep AS (SELECT u, least(min(v), u) AS rep FROM reach GROUP BY u), " +
          "m AS (SELECT a.vec_id, coalesce(r.rep, a.vec_id) AS comp FROM aug a " +
          "LEFT JOIN rep r ON a.vec_id = r.u), " +
          "sz AS (SELECT comp, count(*) AS n_members FROM m GROUP BY 1) " +
          "SELECT m.vec_id, sz.n_members FROM m JOIN sz USING (comp) " +
          "WHERE m.vec_id = m.comp ORDER BY 1")),

    // IVF ANN over a PERSISTED index, promoted to the oracle gate: the
    // emitted rows are the exact cosine top-10 for query vectors 10..14; the
    // plan additionally probes the stored index (k-means centroids built +
    // stored once at write time, `assigned` hive-partitioned by cell, probes
    // reading only probed cell dirs — asserted in-plan: the scan carries a
    // `cell` partition filter AND lists exactly the probed cell dirs) and
    // raise_errors if the IVF top-k recalls less than 55% of the
    // exact top-k. The index is autoCentroids-sized with nprobe =
    // ceil(k/2) — half the cells at every scale, so the probed-mass
    // FRACTION (the recall lever for near-uniform synthetic embeddings,
    // which scatter true neighbors across cells) is scale-stable; measured
    // recall 0.72 (sf0.01) / 0.82 (sf0.1) at the 16-cell floor. Clustered
    // real embeddings concentrate (SimilaritySpec asserts >= 0.95 at
    // nprobe=1 on separable clusters).
    DeclaredQuery(
      "q_ext_sim3",
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        val dir = "target/tmp/ivf/embeddings_auto"
        // build-if-absent/stale (fingerprint-validated): repeated sessions
        // over an unchanged corpus pay the k-means build once — the
        // write-time amortization this index exists for. Since round 11 the
        // index is the SAME deployment-rule (autoCentroids-sized) store
        // q_ext_sim5 probes — the pinned-16 fixture is retired, so the
        // sizing rule that keeps cell population constant as the corpus
        // grows is in force on every declared IVF query. nprobe follows
        // sim5's ceil(k/2) rule: half the cells — a fixed probed-mass
        // FRACTION, free on the query-bound probe path (cost |q|·n/2).
        val (_, kAuto) = Similarity.ensureIvfIndexSized(s, dir, emb,
          "vec_id", "embedding", Similarity.autoCentroids(_))
        val q = emb.filter(col("vec_id") >= 10 && col("vec_id") < 15)
        val (out, probed) = Similarity.ivfTopKPersistedWithCells(s, dir, q,
          "vec_id", "embedding", k = 10, nprobe = (kAuto + 1) / 2)
        val scan = graft.plans.PlanChecks.fileScanFor(out.queryExecution.executedPlan, "assigned")
          .getOrElse(throw new IllegalStateException("no assigned-index scan in plan"))
        require(scan.partitionFilters.exists(_.references.exists(_.name == "cell")),
          s"q_ext_sim3: no cell partition filter on the index scan " +
            s"(partitionFilters=${scan.partitionFilters})")
        // exact-pruning assertion: the scan lists precisely the probed cell
        // dirs — stronger and scale-stable vs "< total" (five queries'
        // probe union can legitimately cover every cell at nprobe = half).
        // Intersected with the cells that exist on disk: empty cells are
        // legitimate (assignment can starve a cell) and write no
        // directory, so a probed-but-empty cell must not count.
        val expected3 = {
          val present = Similarity.existingCells(s, dir)
          probed.count(present.contains)
        }
        require(scan.selectedPartitions.partitionCount == expected3,
          s"q_ext_sim3: scan read ${scan.selectedPartitions.partitionCount} cell dirs, " +
            s"expected exactly the $expected3 probed-and-present (of ${probed.length} probed)")
        val exact = Similarity.cosineTopK(emb, q, "vec_id", "embedding", k = 10)
          .localCheckpoint()
        exact.crossJoin(broadcast(pairRecall(exact, out.select(col("qid"), col("nid")),
            Seq("qid", "nid"))))
          .select(col("qid"),
            when(col("recall") >= 0.55, col("rn"))
              .otherwise(raise_error(concat(
                lit("q_ext_sim3: IVF top-k recall "),
                col("recall").cast("string"), lit(" below 0.55")))).as("rn"),
            col("nid"), r4(col("cos")).as("cos"))
          .orderBy("qid", "rn")
      },
      Some(cosineTopKSql("vec_id >= 10 AND vec_id < 15", 10))),

    // Corpus k-NN graph, promoted to the oracle gate: the emitted per-vector
    // summary (neighbor count + top-1) comes from an EXACT self top-5 —
    // ranked on round(cos, 4) with nid tie-break, the 4-decimal grid being
    // where the two engines' cosine kernels (sequential vector_dot vs
    // DuckDB's list_cosine_similarity) provably agree — while the plan also
    // runs the cell-bucketed approximate k-NN graph over the persisted IVF
    // index (both sides the corpus, probe join keyed on cell — no data
    // broadcast) and raise_errors if it recalls less than 60% of the exact
    // edges (measured 0.80–0.81 at nprobe=8). The exact arm ranks a
    // COUNT-SCALED deterministic query subset (vec_id % max(1, ⌊n/500⌋) = 0
    // — every vector at sf0.01, ~500 at any larger scale, the modulus
    // derived in-plan from a 1-row count agg, identically in the oracle
    // SQL), so oracle-gate scaffolding costs O(500·n) scoring, not O(n²):
    // the sf1 rehearsal measured the unconditioned n² arm at 1064 s where
    // the deployment path (ivfSelfTopK alone — probed-cell candidates,
    // never all pairs) is 4.4 s. Recall is still measured against ~500
    // exact top-5 lists — the same statistical guard, linear cost.
    DeclaredQuery(
      "q_ext_sim4",
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        val dir = "target/tmp/ivf/embeddings_auto"
        // same persisted deployment-rule index as q_ext_sim3/sim5
        // (fingerprint-validated): the k-NN graph probes the stored cell
        // layout instead of re-running k-means per call. autoCentroids
        // keeps CELL SIZE constant as the corpus grows, so constant
        // nprobe = 8 makes self-top-k candidate work ~8·targetCellSize per
        // vector — linear in n (the pinned-16 fixture this query carried
        // through round 10 measured 19× at 10× data; retired per the r10
        // verdict now that the recall story rides the auto rule too).
        Similarity.ensureIvfIndexSized(s, dir, emb,
          "vec_id", "embedding", Similarity.autoCentroids(_))
        val cand = Similarity.ivfSelfTopK(Similarity.loadIvfIndex(s, dir), k = 5, nprobe = 8)
          .select(col("qid"), col("nid"))
        val v = emb.select(col("vec_id").as("nid"), col("embedding").as("nv"),
          Similarity.norm(col("embedding")).as("nn"))
        val qDiv = emb.agg(
          greatest(lit(1L), floor(count(lit(1)) / 500.0).cast("long")).as("qdiv"))
        val qs = emb.crossJoin(broadcast(qDiv))
          .filter(col("vec_id") % col("qdiv") === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          Similarity.norm(col("embedding")).as("qn"))
        // exact top-5 per anchor via the bounded-buffer TopKAgg, NOT a
        // row_number window (round 13): the window formulation shuffled and
        // sorted ALL ~500·n scored pairs (10⁸ rows, 311 s of the query's
        // 406 s at sf10, measured by ProbeSim4) where the aggregate's
        // map-side partials ship ≤ 5 rows per anchor per partition —
        // output-sized. The rank key is the r4 cosine on the 1e4 grid as an
        // exact integer (round(r4·10⁴) — r4's double sits within 1e-12 of
        // the grid point, so the long is exact), and TopKAgg's ordering is
        // (key desc, payload asc) = the same (cosr desc, nid) order the
        // window declared; the oracle SQL keeps its row_number formulation,
        // so the agreement is value-checked at every driver scale.
        val topkAgg = udaf(new graft.functions.Aggregators.TopKAgg(5))
        val top = v.crossJoin(broadcast(qs))
          .filter(col("qid") =!= col("nid"))
          .withColumn("key",
            round(r4(Similarity.cosinePre(col("qv"), col("nv"), col("qn"), col("nn")))
              * 10000).cast("long"))
          .groupBy(col("qid"))
          .agg(topkAgg(col("key"), col("nid")).as("top"))
          .localCheckpoint() // anchors-sized; feeds the summary AND the guard
        val exact = top.select(col("qid"), explode(col("top")).as("t"))
          .select(col("qid"), col("t._2").as("nid"))
        val summary = top.select(col("qid"),
          size(col("top")).cast("long").as("n_neighbors"),
          col("top")(0)("_2").as("top1"),
          (col("top")(0)("_1") / 10000.0).as("top1_cos"))
        summary.crossJoin(broadcast(pairRecall(exact, cand, Seq("qid", "nid"))))
          .select(col("qid"), col("n_neighbors"), col("top1"),
            when(col("recall") >= 0.6, col("top1_cos"))
              .otherwise(raise_error(concat(
                lit("q_ext_sim4: k-NN graph recall "),
                col("recall").cast("string"), lit(" below 0.6")))).as("top1_cos"))
          .orderBy("qid")
      },
      Some(
        // the ~500-row query subset is a MATERIALIZED CTE, not a scalar-
        // subquery predicate inside the <> join (r12, same fix as
        // q_ext_dedup10's anchors): DuckDB left the modulo filter un-pushed
        // and streamed the full n² row set at sf10
        "WITH qd AS MATERIALIZED (SELECT greatest(1, CAST(floor(count(*) / 500.0) AS BIGINT)) AS qdiv FROM embeddings), " +
          "q AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) e FROM embeddings " +
          "WHERE vec_id % (SELECT qdiv FROM qd) = 0), " +
          "p AS (SELECT a.vec_id qid, b.vec_id nid, " +
          "round(list_cosine_similarity(a.e, CAST(b.embedding AS DOUBLE[])), 4) cos " +
          "FROM q a JOIN embeddings b ON a.vec_id <> b.vec_id), " +
          "t AS (SELECT qid, nid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) rn FROM p) " +
          "SELECT qid, count(*) AS n_neighbors, " +
          "max(CASE WHEN rn = 1 THEN nid END) AS top1, " +
          "max(CASE WHEN rn = 1 THEN cos END) AS top1_cos " +
          "FROM t WHERE rn <= 5 GROUP BY qid ORDER BY qid")),

    // Deployment-rule IVF on the oracle gate: the index is sized by
    // `Similarity.autoCentroids(n)` — the centroids-∝-corpus rule that
    // prevents the measured 19×-at-10×-data self-top-k quadratic
    // (PROFILE.md round 9); since round 11 q_ext_sim3/sim4 share this
    // same auto-sized store (the pinned-16 fixture is retired). The query
    // additionally require()s
    // that the PERSISTED index carries exactly autoCentroids(n) centroids,
    // so the rule is load-bearing at every scale the driver runs: it
    // resolves to the 16 floor at 500/2000-row bench corpora (recall
    // bounds carry over from q_ext_sim3) and to 157 at the sf1 rehearsal.
    // nprobe = ceil(k/2) pins the probed CELL FRACTION at one half — the
    // recall lever for near-uniform synthetic embeddings, and free on the
    // probe path (cost is query-bound, |q|·n/2) unlike the self-top-k path
    // where constant nprobe × constant cell size is what buys linearity.
    DeclaredQuery(
      "q_ext_sim5",
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        val dir = "target/tmp/ivf/embeddings_auto"
        // sizing rule applied inside the index's own fingerprint aggregate —
        // one corpus pass computes (n, identity) and derives k, instead of a
        // separate count() job paid on every timed run
        val (n, kAuto) = Similarity.ensureIvfIndexSized(s, dir, emb,
          "vec_id", "embedding", Similarity.autoCentroids(_))
        val kStored = Similarity.loadIvfIndex(s, dir).centroids.count()
        require(kStored == kAuto,
          s"q_ext_sim5: persisted index carries $kStored centroids, " +
            s"autoCentroids($n) = $kAuto — the deployment sizing rule is not in force")
        val q = emb.filter(col("vec_id") >= 15 && col("vec_id") < 20)
        val (out, probed) = Similarity.ivfTopKPersistedWithCells(s, dir, q,
          "vec_id", "embedding", k = 10, nprobe = (kAuto + 1) / 2)
        val scan = graft.plans.PlanChecks.fileScanFor(out.queryExecution.executedPlan, "assigned")
          .getOrElse(throw new IllegalStateException("no assigned-index scan in plan"))
        require(scan.partitionFilters.exists(_.references.exists(_.name == "cell")),
          s"q_ext_sim5: no cell partition filter on the index scan " +
            s"(partitionFilters=${scan.partitionFilters})")
        // probed ∩ present, not probed: with autoCentroids scaling k (157 at
        // sf1) and nprobe = ceil(k/2), the odds a probe ranks an EMPTY cell
        // (which writes no cell= dir) grow with scale — counting it would
        // fail the assertion even though pruning worked
        val expected5 = {
          val present = Similarity.existingCells(s, dir)
          probed.count(present.contains)
        }
        require(scan.selectedPartitions.partitionCount == expected5,
          s"q_ext_sim5: scan read ${scan.selectedPartitions.partitionCount} cell dirs, " +
            s"expected exactly the $expected5 probed-and-present (of ${probed.length} probed)")
        val exact = Similarity.cosineTopK(emb, q, "vec_id", "embedding", k = 10)
          .localCheckpoint()
        exact.crossJoin(broadcast(pairRecall(exact, out.select(col("qid"), col("nid")),
            Seq("qid", "nid"))))
          .select(col("qid"),
            when(col("recall") >= 0.55, col("rn"))
              .otherwise(raise_error(concat(
                lit("q_ext_sim5: auto-sized IVF top-k recall "),
                col("recall").cast("string"), lit(" below 0.55")))).as("rn"),
            col("nid"), r4(col("cos")).as("cos"))
          .orderBy("qid", "rn")
      },
      Some(cosineTopKSql("vec_id >= 15 AND vec_id < 20", 10))),

    // EXACT incremental top-k result maintenance (EDBT 2020's interactive-
    // session pattern): the corpus splits into a standing 4/5 and an
    // appended 1/5, the standing top-k is computed once (a deployment
    // reads it from its result store), the ingest tick scores ONLY the
    // queries × batch — O(|Q|·(k+|B|)), the grown corpus is never
    // re-scored — and Similarity.mergeTopK re-ranks the union. Correct by
    // containment (every true neighbor is in one of the two arms' top-k),
    // so the merged result equals the full-corpus exact top-k EXACTLY and
    // sits on the same shared oracle as q_ext_sim1/sim5 — no recall
    // guard, because the algebraic identity leaves nothing approximate.
    DeclaredQuery(
      "q_ext_sim6",
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        val q = emb.filter(col("vec_id") >= 40 && col("vec_id") < 45)
        val prior = Similarity.cosineTopK(
          emb.filter(col("vec_id") % 5 =!= 0), q, "vec_id", "embedding", k = 10)
        val delta = Similarity.cosineTopK(
          emb.filter(col("vec_id") % 5 === 0), q, "vec_id", "embedding", k = 10)
        Similarity.mergeTopK(prior, delta, 10)
          .select(col("qid"), col("rn"), col("nid"), r4(col("cos")).as("cos"))
          .orderBy("qid", "rn")
      },
      Some(cosineTopKSql("vec_id >= 40 AND vec_id < 45", 10))),

    // multimodal decode, REAL codec round-trip: generate an id-sized PNG
    // per row (JDK ImageIO — no external codecs needed), decode it back
    // distributed, and check the recovered dimensions against the closed
    //-form oracle. This exercises encode + mapPartitions decode + schema
    // plumbing end-to-end with genuine image bytes.
    DeclaredQuery(
      "q_ext_mm2",
      (s, d) =>
        Multimodal.decodeImages(s,
            Multimodal.withGeneratedPngPayload(
              Tables.load(s, d, "documents").select(col("doc_id")), "doc_id"))
          .select(col("doc_id"),
            col("decoded.width").as("width"), col("decoded.height").as("height"),
            col("decoded.channels").as("channels"))
          .orderBy("doc_id"),
      Some(
        // floor(a/b) rather than DuckDB's `//`: identical on these nonneg
        // values and the text also runs under Spark's parser (OracleSqlSpec)
        "SELECT doc_id, CAST(8 + doc_id % 16 AS INTEGER) AS width, " +
          "CAST(8 + CAST(floor(doc_id / 16) AS BIGINT) % 16 AS INTEGER) AS height, " +
          "CAST(3 AS INTEGER) AS channels FROM documents ORDER BY doc_id")),

    // multimodal resize, REAL kernel: PNG → half-size → decode; recovered
    // dimensions follow the same closed form halved (floor, min 1)
    DeclaredQuery(
      "q_ext_mm4",
      (s, d) =>
        Multimodal.decodeImages(s,
            Multimodal.resizeImages(
              Multimodal.withGeneratedPngPayload(
                Tables.load(s, d, "documents").select(col("doc_id")), "doc_id"),
              scale = 0.5))
          .select(col("doc_id"),
            col("decoded.width").as("width"), col("decoded.height").as("height"))
          .orderBy("doc_id"),
      Some(
        // floor(a/b) rather than `//` — portable, see q_ext_mm2's note
        "SELECT doc_id, CAST(greatest(CAST(floor((8 + doc_id % 16) / 2) AS BIGINT), 1) AS INTEGER) AS width, " +
          "CAST(greatest(CAST(floor((8 + CAST(floor(doc_id / 16) AS BIGINT) % 16) / 2) AS BIGINT), 1) AS INTEGER) AS height " +
          "FROM documents ORDER BY doc_id")),

    // REAL feature extraction from decoded pixels: per-channel INTEGER
    // sums + pixel count via an ImageIO decode + raster walk — exact, so
    // the full encode→decode→extract path is oracle-checked against the
    // generator's closed-form pixels ((id*31 + p) & 0xFFFFFF at p = y·w+x)
    DeclaredQuery(
      "q_ext_mm6",
      (s, d) =>
        Multimodal.imageColorStats(
            Multimodal.withGeneratedPngPayload(
              Tables.load(s, d, "documents").select(col("doc_id")), "doc_id"))
          .select(col("doc_id"),
            col("color.r_sum").as("r_sum"), col("color.g_sum").as("g_sum"),
            col("color.b_sum").as("b_sum"), col("color.n_px").as("n_px"))
          .orderBy("doc_id"),
      Some(
        "WITH d AS (SELECT doc_id, CAST(8 + doc_id % 16 AS BIGINT) AS w, " +
          "CAST(8 + CAST(floor(doc_id / 16) AS BIGINT) % 16 AS BIGINT) AS h FROM documents), " +
          "px AS (SELECT doc_id, unnest(generate_series(0, w*h - 1)) AS p FROM d), " +
          "c AS (SELECT doc_id, ((doc_id*31 + p) & 16777215) AS rgb FROM px) " +
          "SELECT doc_id, CAST(sum((rgb >> 16) & 255) AS BIGINT) AS r_sum, " +
          "CAST(sum((rgb >> 8) & 255) AS BIGINT) AS g_sum, " +
          "CAST(sum(rgb & 255) AS BIGINT) AS b_sum, count(*) AS n_px " +
          "FROM c GROUP BY 1 ORDER BY 1")),

    // IMAGE dedup by decoded-pixel digest: payloads generated from
    // doc_id % 50 give exact-duplicate image clusters (same pixels, ~10
    // copies each at sf0.01); the digest is md5 over the decoded raster's
    // canonical sRGB walk — codec-independent identity, the first stage of
    // an image dedup pipeline (pixel-exact clusters before any perceptual
    // hashing; re-encode invariance spec-asserted in MultimodalSpec).
    // Clustering is one digest-keyed groupBy joined back — fan-in bounded
    // by true duplication. Oracle: clusters are doc_id % 50 by
    // construction, so rep/size are closed-form — a digest collision or
    // decode drift breaks the hash match.
    DeclaredQuery(
      "q_ext_mm7",
      (s, d) => {
        val base = Tables.load(s, d, "documents").select(col("doc_id"),
          pmod(col("doc_id"), lit(50L)).as("img_key"))
        val digested = Multimodal.withPixelDigest(
            Multimodal.withGeneratedPngPayload(base, "img_key"))
          .select(col("doc_id"), col("pixel_md5"))
        val clusters = digested.groupBy("pixel_md5")
          .agg(min(col("doc_id")).as("rep_id"),
            count(lit(1)).cast("int").as("cluster_n"))
        digested.join(clusters, Seq("pixel_md5"))
          .select(col("doc_id"), col("rep_id"), col("cluster_n"),
            (col("doc_id") === col("rep_id")).as("is_keeper"))
          .orderBy("doc_id")
      },
      Some(
        "WITH g AS (SELECT doc_id, doc_id % 50 AS k FROM documents), " +
          "c AS (SELECT k, min(doc_id) AS rep_id, CAST(count(*) AS INTEGER) AS cluster_n " +
          "FROM g GROUP BY 1) " +
          "SELECT g.doc_id, c.rep_id, c.cluster_n, g.doc_id = c.rep_id AS is_keeper " +
          "FROM g JOIN c ON g.k = c.k ORDER BY g.doc_id")),

    // audio modality, REAL container round-trip: deterministic RIFF/PCM WAV
    // blobs generated distributed, then decoded back by walking the chunk
    // list (WAV is a trivial binary layout — no external codec needed, so
    // unlike image feature extraction nothing here is stubbed). Rate,
    // sample count, byte size and integer-ms duration are closed-form in
    // doc_id — the oracle recomputes them directly.
    DeclaredQuery(
      "q_ext_mm5",
      (s, d) =>
        Multimodal.decodeAudio(
            Multimodal.withGeneratedWavPayload(
              Tables.load(s, d, "documents").select(col("doc_id")), "doc_id"))
          .select(col("doc_id"),
            col("audio.sample_rate").as("sample_rate"),
            col("audio.n_samples").as("n_samples"),
            col("audio.duration_ms").as("duration_ms"),
            col("meta.n_bytes").as("n_bytes"))
          .orderBy("doc_id"),
      Some(
        "SELECT doc_id, CAST(8000 + (doc_id % 4) * 4000 AS INTEGER) AS sample_rate, " +
          "CAST(400 + (doc_id % 37) * 40 AS INTEGER) AS n_samples, " +
          "CAST(floor((400 + (doc_id % 37) * 40) * 1000 / (8000 + (doc_id % 4) * 4000)) AS BIGINT) AS duration_ms, " +
          "CAST(44 + (400 + (doc_id % 37) * 40) * 2 AS INTEGER) AS n_bytes " +
          "FROM documents ORDER BY doc_id")),

    // frame sampling over binary payloads: 16-byte frames, every 2nd kept
    DeclaredQuery(
      "q_ext_mm3",
      (s, d) =>
        Multimodal.withBinaryPayload(Tables.load(s, d, "documents"), "text", "text/plain")
          .select(col("doc_id"),
            Multimodal.sampleFrames(col("payload"), frameBytes = 16, everyK = 2).as("frames"))
          .select(col("doc_id"), size(col("frames")).as("n_frames"),
            base64(col("frames")(0).getField("frame")).as("first_frame_b64"))
          .orderBy("doc_id"),
      Some(
        // kept frames = indices 0,2,4,... of ceil(len/16) frames
        "SELECT doc_id, CAST((CAST(ceil(length(text)/16.0) AS BIGINT) + 1) // 2 AS INTEGER) AS n_frames, " +
          "base64(CAST(substr(text, 1, 16) AS BLOB)) AS first_frame_b64 " +
          "FROM documents ORDER BY doc_id")),

    // ---- bloom semi-join reduction ----
    // the big side (lineitem) is bloom-filtered down to ~matching rows
    // BEFORE its join shuffle (Spark's own runtime-filter expressions,
    // driven explicitly); results are identical to the plain join (the
    // exact join removes the bloom's false positives), so the oracle is
    // the plain SQL join. Asserted at build time: the might_contain
    // predicate is in the physical plan (i.e. the reduction actually runs).
    DeclaredQuery(
      "q_ext_bloom1",
      (s, d) => {
        import graft.operators.BloomJoin
        val li = Tables.load(s, d, "lineitem")
        val small = Tables.load(s, d, "orders")
          .filter(col("o_orderpriority") === "1-URGENT" &&
            year(col("o_orderdate")) === 1996 && month(col("o_orderdate")) === 3)
          .select(col("o_orderkey"), col("o_totalprice"))
        val out = BloomJoin.reducedJoin(li, small, "l_orderkey", "o_orderkey",
            expectedItems = 20000)
          .groupBy(col("l_orderkey"))
          .agg(dsum(col("l_quantity")).as("qty"), count(lit(1)).as("n"),
            r4(max(col("o_totalprice"))).as("total"))
          .orderBy("l_orderkey")
        require(out.queryExecution.executedPlan.toString.contains("might_contain"),
          "q_ext_bloom1: bloom prefilter missing from the physical plan")
        out
      },
      Some(
        "SELECT l_orderkey, round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE),4) AS qty, " +
          "count(*) AS n, round(max(o_totalprice),4) AS total " +
          "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
          "WHERE o_orderpriority = '1-URGENT' AND year(o_orderdate) = 1996 AND month(o_orderdate) = 3 " +
          "GROUP BY 1 ORDER BY 1")),

    // ---- event windows ----
    DeclaredQuery(
      "q_ext_evt1",
      (s, d) =>
        EventOps.tumblingHourly(Tables.load(s, d, "events"))
          .orderBy("user_id", "hour_bucket"),
      Some(
        "SELECT user_id, CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_bucket, " +
          "count(*) AS n, round(sum(value),4) AS total " +
          "FROM events GROUP BY 1,2 ORDER BY 1,2")),

    DeclaredQuery(
      "q_ext_evt2",
      (s, d) =>
        EventOps.sessionStats(Tables.load(s, d, "events"), "30 minutes")
          .orderBy("user_id"),
      Some(
        "WITH o AS (SELECT user_id, CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL " +
          "OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END new_s FROM events) " +
          "SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions, count(*) AS n_events FROM o GROUP BY 1 ORDER BY 1")),

    // time-series gap filling: dense per-user hourly axis, zero-filled
    DeclaredQuery(
      "q_ext_evt3",
      (s, d) =>
        EventOps.hourlyGapFill(Tables.load(s, d, "events"))
          .orderBy("user_id", "hour_bucket"),
      Some(
        "WITH hourly AS (SELECT user_id, date_trunc('hour', ts) AS hour, count(*) AS n " +
          "FROM events GROUP BY 1, 2), " +
          "spans AS (SELECT user_id, min(hour) lo, max(hour) hi FROM hourly GROUP BY 1), " +
          "axis AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM spans) " +
          "SELECT a.user_id, CAST(epoch(a.hour) AS BIGINT) AS hour_bucket, " +
          "coalesce(h.n, 0) AS n FROM axis a LEFT JOIN hourly h " +
          "ON a.user_id = h.user_id AND a.hour = h.hour ORDER BY 1, 2")),

    // gaps-and-islands: each event opens a 30-minute activity window;
    // overlapping windows coalesce into maximal per-user islands
    DeclaredQuery(
      "q_ext_evt4",
      (s, d) =>
        EventOps.mergeIntervals(
            Tables.load(s, d, "events")
              .select(col("user_id"), col("ts").as("lo"),
                (col("ts") + expr("INTERVAL 30 MINUTES")).as("hi"), col("event_id")),
            "user_id", "lo", "hi", "event_id")
          .orderBy("user_id", "island"),
      Some(
        "WITH iv AS (SELECT user_id, ts AS lo, ts + INTERVAL 30 MINUTE AS hi, event_id FROM events), " +
          "m AS (SELECT user_id, lo, hi, event_id, CASE WHEN epoch_us(lo) > max(epoch_us(hi)) OVER " +
          "(PARTITION BY user_id ORDER BY lo, hi, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) " +
          "THEN 1 ELSE 0 END AS ni FROM iv), " +
          "g AS (SELECT user_id, lo, hi, sum(ni) OVER (PARTITION BY user_id ORDER BY lo, hi, event_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM m) " +
          "SELECT user_id, CAST(island AS INTEGER) AS island, " +
          "CAST(epoch_us(min(lo)) AS BIGINT) AS start_us, CAST(epoch_us(max(hi)) AS BIGINT) AS end_us, " +
          "count(*) AS n FROM g GROUP BY 1, 2 ORDER BY 1, 2")),

    // fixed-size overlapping token chunking (the pretraining/RAG chunker):
    // a pure codegen'd column program — chunks as a scan, no shuffle
    DeclaredQuery(
      "q_ext_chunk1",
      (s, d) =>
        Tables.load(s, d, "documents")
          .select(col("doc_id"),
            posexplode(TextFunctions.chunkTokens(col("text"), chunkSize = 4, overlap = 1)))
          .select(col("doc_id"), (col("pos") + 1).cast("int").as("chunk_idx"),
            col("col.chunk").as("chunk"), col("col.n_toks").as("n_toks"))
          .orderBy("doc_id", "chunk_idx"),
      Some(
        "WITH words AS (SELECT doc_id, string_split(text,' ') w FROM documents), " +
          "s AS (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w)-1,1), 3)) AS st FROM words) " +
          "SELECT doc_id, CAST((st-1)//3 + 1 AS INTEGER) AS chunk_idx, " +
          "array_to_string(list_slice(w, st, least(st+3, len(w))), ' ') AS chunk, " +
          "CAST(least(4, len(w)-st+1) AS INTEGER) AS n_toks " +
          "FROM s ORDER BY doc_id, chunk_idx")),

    // ---- heavy hitters ----
    // exact global top-k by frequency: count-per-item (one shuffle,
    // map-side combined) into the bounded-buffer TopKAgg (≤ k rows per
    // partition reach the final merge) — ORDER BY n DESC LIMIT k with no
    // global sort. Deterministic tie-break toward the smaller id → full
    // hash oracle
    DeclaredQuery(
      "q_ext_hh1",
      (s, d) =>
        HeavyHitters.exact(Tables.load(s, d, "events"), "user_id", 15)
          .orderBy("rank"),
      Some(
        "WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1), " +
          "r AS (SELECT user_id, n, row_number() OVER (ORDER BY n DESC, user_id) AS rank FROM c) " +
          "SELECT CAST(rank AS INTEGER) AS rank, user_id, n FROM r WHERE rank <= 15 ORDER BY rank")),

    // count-min sketched frequencies for the same top items: the sketch is
    // a depth×width counter matrix built with bounded shuffle volume
    // (map-side partial aggregation collapses the per-row explode to ≤
    // depth·width cells per partition), estimates join back broadcast.
    // xxhash64-based → not expressible in DuckDB (rows-only);
    // HeavyHittersSpec carries the error-bound and mergeability checks.
    // The never-undercounts CM guarantee is asserted IN-PLAN (raise_error
    // embedded in the output column, so Catalyst cannot prune it) at every
    // scale factor.
    DeclaredQuery(
      "q_ext_hh2",
      (s, d) => {
        val ev = Tables.load(s, d, "events")
        val top = HeavyHitters.exact(ev, "user_id", 10)
        val sk = HeavyHitters.countMinSketch(ev, "user_id", depth = 5, width = 256)
        val est = HeavyHitters.estimate(top.select("user_id"), sk, "user_id",
          depth = 5, width = 256)
        // CM guarantee, enforced in-plan: est never undercounts, and
        // overcounts by at most ~e·N/width w.h.p. (3× slack on the bound).
        // Emitting the deterministic exact columns plus the guard verdict
        // puts the sketch on the DuckDB oracle: a broken sketch raises, an
        // intact one yields a hash-comparable result (VERDICT r7 next#6).
        val total = ev.count()
        val cap = math.ceil(3.0 * math.E * total / 256.0).toLong
        top.join(est, "user_id")
          .select(col("rank"), col("user_id"), col("n"),
            when(col("est") < col("n") || col("est") > col("n") + cap,
              raise_error(concat(
                lit("q_ext_hh2: count-min estimate "), col("est").cast("string"),
                lit(" outside [n, n+"), lit(cap.toString), lit("] for user "),
                col("user_id").cast("string"), lit(" (exact n=") , col("n").cast("string"),
                lit(")")))).otherwise(lit(true)).as("bound_ok"))
          .orderBy("rank")
      },
      Some(
        "WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1), " +
          "r AS (SELECT user_id, n, CAST(row_number() OVER (ORDER BY n DESC, user_id ASC) AS INTEGER) AS rank FROM c) " +
          "SELECT rank, user_id, n, TRUE AS bound_ok FROM r WHERE rank <= 10 ORDER BY rank")),

    // incremental distinct counting via a persisted BUCKETED HLL sketch
    // store: two batches (half the events each) sketch + merge WITHOUT ever
    // re-reading batch 1 — the 100 TB metrics-store pattern (exact
    // count(DISTINCT) re-shuffles all history per refresh; sketches fold
    // each batch in O(touched-bucket keys · 4KB)). The bucketed layout is
    // the growing-key-set compaction story: the merge partition-prunes the
    // store read to the buckets the batch's keys hash into and rewrites
    // only those (see DistinctSketch scaladoc). Oracle via the promotion
    // pattern: estimates from the merged store are guard-checked in-plan
    // against the exact distinct (10% band, far above HLL lgK=12's ~1.6%
    // rse), the deterministic exact counts are emitted — the exact arm is
    // oracle-gate scaffolding; at deployment scale the store path alone
    // serves the metric (PROFILE.md round-9 note).
    DeclaredQuery(
      "q_ext_hll1",
      (s, d) => {
        val ev = Tables.load(s, d, "events")
        val root = graft.Scratch.dir("hll_store")
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
        DistinctSketch.buildBucketedStore(
          ev.filter(col("event_id") % 2 === 0), Seq("event_type"), "user_id", root,
          nBuckets = 16)
        DistinctSketch.mergeBatchIntoBucketedStore(s,
          ev.filter(col("event_id") % 2 =!= 0), Seq("event_type"), "user_id", root,
          nBuckets = 16)
        val est = DistinctSketch.readEstimates(s, root, "est").drop("bucket")
        val exact = ev.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("exact"))
        est.join(exact, "event_type")
          .select(col("event_type"),
            when(abs(col("est") - col("exact")) <=
                greatest(col("exact") * 0.10, lit(5.0)), col("exact"))
              .otherwise(raise_error(concat(
                lit("q_ext_hll1: merged-store HLL estimate "), col("est").cast("string"),
                lit(" strayed past 10% of exact "), col("exact").cast("string"),
                lit(" for event_type="), col("event_type")))).as("n_users"))
          .orderBy("event_type")
      },
      Some(
        "SELECT event_type, count(DISTINCT user_id) AS n_users " +
          "FROM events GROUP BY 1 ORDER BY 1")),

    // snapshot diff as a STORAGE AUDIT: reconcile a ParquetDatabase after an
    // upsert batch against its before-image — the validation step of an
    // incremental sync ("did the merge apply exactly the intended deltas").
    // The after-image is read back from disk, so the oracle also re-proves
    // the upsert semantics themselves.
    DeclaredQuery(
      "q_ext_diff2",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val base = Tables.load(s, d, "orders")
          .select(col("o_orderkey"), money(col("o_totalprice")).as("price"),
            col("o_orderpriority").as("prio"))
        val before = base.where(col("o_orderkey") % 89 =!= 0)
        val dir = s"target/tmp/q_ext_diff2/${java.util.UUID.randomUUID}"
        val db = new graft.sources.ParquetDatabase(s, dir)
        db.create(before)
        // patch: bump price on %7 keys, restore the missing %89 keys
        val patch = base
          .where(col("o_orderkey") % 7 === 0 || col("o_orderkey") % 89 === 0)
          .select(col("o_orderkey"),
            when(col("o_orderkey") % 7 === 0, col("price") + money(lit(5.0)))
              .otherwise(col("price")).cast(DecimalType(18, 2)).as("price"),
            col("prio"))
        db.upsert(patch, "o_orderkey")
        SnapshotDiff.diff(before, db.read(), Seq("o_orderkey"))
          .select(col("o_orderkey"), col("status"), col("changed_cols"),
            r4(col("old_price").cast("double")).as("old_price"),
            r4(col("new_price").cast("double")).as("new_price"))
          .orderBy("o_orderkey")
      },
      Some(
        "WITH o AS (SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) price, o_orderpriority prio, 1 AS in_old " +
          "FROM orders WHERE o_orderkey % 89 <> 0), " +
          "n AS (SELECT o_orderkey, CASE WHEN o_orderkey % 7 = 0 THEN CAST(o_totalprice AS DECIMAL(18,2)) + 5.00 " +
          "ELSE CAST(o_totalprice AS DECIMAL(18,2)) END price, o_orderpriority prio, 1 AS in_new FROM orders) " +
          "SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey, " +
          "CASE WHEN o.in_old IS NULL THEN 'added' WHEN n.in_new IS NULL THEN 'removed' " +
          "WHEN NOT (o.price IS NOT DISTINCT FROM n.price AND o.prio IS NOT DISTINCT FROM n.prio) THEN 'changed' " +
          "ELSE 'unchanged' END AS status, " +
          "CASE WHEN o.in_old IS NOT NULL AND n.in_new IS NOT NULL " +
          "AND NOT (o.price IS NOT DISTINCT FROM n.price AND o.prio IS NOT DISTINCT FROM n.prio) " +
          "THEN array_to_string(list_filter([CASE WHEN NOT (o.price IS NOT DISTINCT FROM n.price) THEN 'price' END, " +
          "CASE WHEN NOT (o.prio IS NOT DISTINCT FROM n.prio) THEN 'prio' END], x -> x IS NOT NULL), ',') " +
          "ELSE '' END AS changed_cols, " +
          "round(CAST(o.price AS DOUBLE), 4) AS old_price, round(CAST(n.price AS DOUBLE), 4) AS new_price " +
          "FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey " +
          "WHERE NOT (o.in_old IS NOT NULL AND n.in_new IS NOT NULL " +
          "AND o.price IS NOT DISTINCT FROM n.price AND o.prio IS NOT DISTINCT FROM n.prio) " +
          "ORDER BY o_orderkey")),

    // ordered funnel (view → click → purchase): greedy per-user stage
    // timestamps in ONE shuffle (sorted-array HOF scan) vs the oracle's
    // k-stage self-join formulation — identical semantics, k× fewer passes
    DeclaredQuery(
      "q_ext_funnel1",
      (s, d) =>
        EventOps.funnel(Tables.load(s, d, "events"), Seq("view", "click", "purchase"))
          .orderBy("user_id"),
      Some(
        "WITH base AS (SELECT DISTINCT user_id FROM events WHERE event_type IN ('view','click','purchase')), " +
          "s1 AS (SELECT user_id, min(ts) t1 FROM events WHERE event_type='view' GROUP BY 1), " +
          "s2 AS (SELECT e.user_id, min(e.ts) t2 FROM events e JOIN s1 ON e.user_id=s1.user_id AND e.ts > s1.t1 " +
          "WHERE e.event_type='click' GROUP BY 1), " +
          "s3 AS (SELECT e.user_id, min(e.ts) t3 FROM events e JOIN s2 ON e.user_id=s2.user_id AND e.ts > s2.t2 " +
          "WHERE e.event_type='purchase' GROUP BY 1) " +
          "SELECT b.user_id, CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2 " +
          "WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS depth, " +
          "CAST(epoch_us(t1) AS BIGINT) AS t1_us, CAST(epoch_us(t2) AS BIGINT) AS t2_us, " +
          "CAST(epoch_us(t3) AS BIGINT) AS t3_us " +
          "FROM base b LEFT JOIN s1 USING(user_id) LEFT JOIN s2 USING(user_id) LEFT JOIN s3 USING(user_id) " +
          "ORDER BY user_id")),

    // CDC changelog → SCD type-2: collapse consecutive same-state rows per
    // user, close validity intervals with the next version's start
    DeclaredQuery(
      "q_ext_cdc1",
      (s, d) =>
        EventOps.scd2Compact(Tables.load(s, d, "events"))
          .orderBy("user_id", "version"),
      Some(
        "WITH m AS (SELECT user_id, event_type, ts, event_id, " +
          "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events), " +
          "c AS (SELECT * FROM m WHERE prev IS DISTINCT FROM event_type) " +
          "SELECT user_id, CAST(row_number() OVER w AS INTEGER) AS version, event_type AS state, " +
          "CAST(epoch_us(ts) AS BIGINT) AS valid_from_us, " +
          "CAST(epoch_us(lead(ts) OVER w) AS BIGINT) AS valid_to_us, " +
          "lead(ts) OVER w IS NULL AS is_current " +
          "FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id) " +
          "ORDER BY user_id, version")),

    // SCD2 point-in-time lookup: every event joined to the dimension
    // version in effect at its timestamp (equi-key on user + validity-range
    // predicate — per-user version lists are small, so the range filter
    // rides the hash join; no nested loop). Completes the CDC story:
    // q_ext_cdc1 BUILDS the dimension, this query USES it.
    DeclaredQuery(
      "q_ext_cdc2",
      (s, d) => {
        val events = Tables.load(s, d, "events")
        val dim = EventOps.scd2Compact(events).as("dv")
        val facts = events
          .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
          .as("f")
        facts.join(dim,
            col("f.user_id") === col("dv.user_id") &&
              col("f.ts_us") >= col("dv.valid_from_us") &&
              (col("dv.valid_to_us").isNull || col("f.ts_us") < col("dv.valid_to_us")))
          .select(col("f.event_id"), col("f.user_id"), col("dv.version"), col("dv.state"))
          .orderBy("event_id")
      },
      Some(
        "WITH m AS (SELECT user_id, event_type, ts, event_id, " +
          "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events), " +
          "c AS (SELECT * FROM m WHERE prev IS DISTINCT FROM event_type), " +
          "dim AS (SELECT user_id, CAST(row_number() OVER w AS INTEGER) AS version, event_type AS state, " +
          "CAST(epoch_us(ts) AS BIGINT) AS valid_from_us, CAST(epoch_us(lead(ts) OVER w) AS BIGINT) AS valid_to_us " +
          "FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) " +
          "SELECT f.event_id, f.user_id, d.version, d.state " +
          "FROM (SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) ts_us FROM events) f " +
          "JOIN dim d ON f.user_id = d.user_id AND f.ts_us >= d.valid_from_us " +
          "AND (d.valid_to_us IS NULL OR f.ts_us < d.valid_to_us) " +
          "ORDER BY f.event_id")),

    // edit-distance-≤1 similarity self-join via deletion neighborhoods —
    // the oracle brute-forces levenshtein over all pairs of the subset; the
    // Spark plan is an equi-join on deletion variants + exact verify (no
    // nested loop, asserted in StringSimSpec)
    DeclaredQuery(
      "q_ext_strsim1",
      (s, d) =>
        StringSim.editDistance1Join(
            Tables.load(s, d, "customer").where(col("c_custkey") % 10 === 0),
            "c_custkey", "c_name")
          .orderBy("k1", "k2"),
      Some(
        "WITH sub AS (SELECT c_custkey k, c_name s FROM customer WHERE c_custkey % 10 = 0) " +
          "SELECT a.k AS k1, b.k AS k2, a.s AS s1, b.s AS s2, " +
          "CAST(levenshtein(a.s, b.s) AS INTEGER) AS dist " +
          "FROM sub a, sub b WHERE a.k < b.k AND levenshtein(a.s, b.s) <= 1 " +
          "ORDER BY k1, k2")),

    // radius-2 variant of strsim1: 2-deletion neighborhoods (full SymSpell),
    // candidates complete for dist ≤ 2, exact levenshtein verify — on a
    // smaller keyed subset since the oracle brute-forces all pairs
    DeclaredQuery(
      "q_ext_strsim2",
      (s, d) =>
        StringSim.editDistanceJoin(
            Tables.load(s, d, "customer").where(col("c_custkey") % 20 === 0),
            "c_custkey", "c_name", maxDist = 2)
          .orderBy("k1", "k2"),
      Some(
        "WITH sub AS (SELECT c_custkey k, c_name s FROM customer WHERE c_custkey % 20 = 0) " +
          "SELECT a.k AS k1, b.k AS k2, a.s AS s1, b.s AS s2, " +
          "CAST(levenshtein(a.s, b.s) AS INTEGER) AS dist " +
          "FROM sub a, sub b WHERE a.k < b.k AND levenshtein(a.s, b.s) <= 2 " +
          "ORDER BY k1, k2")),

    // snapshot reconciliation: added / removed / changed (+ which columns)
    // between two deterministic versions of orders, via one full-outer join
    DeclaredQuery(
      "q_ext_diff1",
      (s, d) => {
        val orders = Tables.load(s, d, "orders")
        val oldSnap = orders.where(col("o_orderkey") % 97 =!= 0)
          .select(col("o_orderkey"), money(col("o_totalprice")).as("price"),
            col("o_orderpriority").as("prio"))
        val newSnap = orders.where(col("o_orderkey") % 89 =!= 0)
          .select(col("o_orderkey"),
            when(col("o_orderkey") % 7 === 0, money(col("o_totalprice")) + money(lit(10.0)))
              .otherwise(money(col("o_totalprice"))).as("price"),
            when(col("o_orderkey") % 11 === 0, lit("RECHECK"))
              .otherwise(col("o_orderpriority")).as("prio"))
        SnapshotDiff.diff(oldSnap, newSnap, Seq("o_orderkey"))
          .select(col("o_orderkey"), col("status"), col("changed_cols"),
            r4(col("old_price").cast("double")).as("old_price"),
            r4(col("new_price").cast("double")).as("new_price"))
          .orderBy("o_orderkey")
      },
      Some(
        "WITH o AS (SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) price, o_orderpriority prio, 1 AS in_old " +
          "FROM orders WHERE o_orderkey % 97 <> 0), " +
          "n AS (SELECT o_orderkey, CASE WHEN o_orderkey % 7 = 0 THEN CAST(o_totalprice AS DECIMAL(18,2)) + 10.00 " +
          "ELSE CAST(o_totalprice AS DECIMAL(18,2)) END price, " +
          "CASE WHEN o_orderkey % 11 = 0 THEN 'RECHECK' ELSE o_orderpriority END prio, 1 AS in_new " +
          "FROM orders WHERE o_orderkey % 89 <> 0) " +
          "SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey, " +
          "CASE WHEN o.in_old IS NULL THEN 'added' WHEN n.in_new IS NULL THEN 'removed' " +
          "WHEN NOT (o.price IS NOT DISTINCT FROM n.price AND o.prio IS NOT DISTINCT FROM n.prio) THEN 'changed' " +
          "ELSE 'unchanged' END AS status, " +
          "CASE WHEN o.in_old IS NOT NULL AND n.in_new IS NOT NULL " +
          "AND NOT (o.price IS NOT DISTINCT FROM n.price AND o.prio IS NOT DISTINCT FROM n.prio) " +
          "THEN array_to_string(list_filter([CASE WHEN NOT (o.price IS NOT DISTINCT FROM n.price) THEN 'price' END, " +
          "CASE WHEN NOT (o.prio IS NOT DISTINCT FROM n.prio) THEN 'prio' END], x -> x IS NOT NULL), ',') " +
          "ELSE '' END AS changed_cols, " +
          "round(CAST(o.price AS DOUBLE), 4) AS old_price, round(CAST(n.price AS DOUBLE), 4) AS new_price " +
          "FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey " +
          "WHERE NOT (o.in_old IS NOT NULL AND n.in_new IS NOT NULL " +
          "AND o.price IS NOT DISTINCT FROM n.price AND o.prio IS NOT DISTINCT FROM n.prio) " +
          "ORDER BY o_orderkey")),

    // capstone: the full training-data curation pipeline in one plan —
    // quality filter → exact dedup (md5 keeper) → near-dup clustering →
    // keep one doc per cluster. Every stage is the operator declared above;
    // the oracle chains the same logic (incl. a recursive-CTE closure).
    // pipe1 builds pairs with the exact-Jaccard generator (oracle path);
    // pipe2 is the 100 TB-shape variant: MinHash+LSH banding + exact verify
    // at τ=0.8 — same recursive-CTE oracle at the matching threshold (the
    // LSH miss probability per true pair at s≥0.8 with 16×2 banding is
    // (1-0.8²)¹⁶ < 1e-7, so the exact-Jaccard SQL remains hash-matchable).
    DeclaredQuery(
      "q_ext_pipe1",
      (s, d) => curationPipeline(Tables.load(s, d, "documents"),
        docs => Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.6, shingleN = 3)),
      Some(curationSql(0.6))),

    DeclaredQuery(
      "q_ext_pipe2",
      (s, d) => curationPipeline(Tables.load(s, d, "documents"),
        docs => Dedup.minHashPairs(docs, "doc_id", "text", threshold = 0.8,
          numBands = 16, rowsPerBand = 2, shingleN = 3)),
      Some(curationSql(0.8))),

    // ---- structured streaming (bounded AvailableNow replay, memory sink;
    // the streaming pipeline must reproduce the batch oracle exactly) ----
    DeclaredQuery(
      "q_ext_stream1",
      (s, d) =>
        EventStreams.runToMemory(s, d, EventStreams.tumblingHourly,
            OutputMode.Complete, "stream_tumbling")
          .orderBy("user_id", "hour_bucket"),
      Some(
        "SELECT user_id, CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_bucket, " +
          "count(*) AS n, round(sum(value),4) AS total " +
          "FROM events GROUP BY 1,2 ORDER BY 1,2")),

    DeclaredQuery(
      "q_ext_stream2",
      (s, d) =>
        EventStreams.runToMemory(s, d, df => EventStreams.sessionStatsStateful(df, 30),
            OutputMode.Update, "stream_sessions")
          .orderBy("user_id"),
      Some(
        "WITH o AS (SELECT user_id, CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL " +
          "OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END new_s FROM events) " +
          "SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions, count(*) AS n_events FROM o GROUP BY 1 ORDER BY 1")),

    // streaming ordered funnel with custom per-user state — the streaming
    // form of q_ext_funnel1; on a bounded replay the final state equals the
    // batch greedy funnel exactly, so the SAME k-stage self-join oracle
    // applies (batch/stream parity on a genuinely stateful operator)
    DeclaredQuery(
      "q_ext_stream7",
      (s, d) =>
        EventStreams.runToMemory(s, d,
            df => EventStreams.funnelStateful(df, Seq("view", "click", "purchase")),
            OutputMode.Update, "stream_funnel")
          .orderBy("user_id"),
      Some(
        "WITH base AS (SELECT DISTINCT user_id FROM events WHERE event_type IN ('view','click','purchase')), " +
          "s1 AS (SELECT user_id, min(ts) t1 FROM events WHERE event_type='view' GROUP BY 1), " +
          "s2 AS (SELECT e.user_id, min(e.ts) t2 FROM events e JOIN s1 ON e.user_id=s1.user_id AND e.ts > s1.t1 " +
          "WHERE e.event_type='click' GROUP BY 1), " +
          "s3 AS (SELECT e.user_id, min(e.ts) t3 FROM events e JOIN s2 ON e.user_id=s2.user_id AND e.ts > s2.t2 " +
          "WHERE e.event_type='purchase' GROUP BY 1) " +
          "SELECT b.user_id, CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2 " +
          "WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS depth, " +
          "CAST(epoch_us(t1) AS BIGINT) AS t1_us, CAST(epoch_us(t2) AS BIGINT) AS t2_us, " +
          "CAST(epoch_us(t3) AS BIGINT) AS t3_us " +
          "FROM base b LEFT JOIN s1 USING(user_id) LEFT JOIN s2 USING(user_id) LEFT JOIN s3 USING(user_id) " +
          "ORDER BY user_id")),

    // streaming SCD2 dimension maintenance — the streaming form of
    // q_ext_cdc1: per-user change-point state (bounded by state CHANGES,
    // not events), Update-mode emission because a new version retracts the
    // previous one's open valid_to; bounded replay equals the batch SCD2,
    // so the same window-SQL oracle applies
    DeclaredQuery(
      "q_ext_stream8",
      (s, d) =>
        EventStreams.runToMemory(s, d, EventStreams.scd2Stateful,
            OutputMode.Update, "stream_scd2")
          .orderBy("user_id", "version"),
      Some(
        "WITH m AS (SELECT user_id, event_type, ts, event_id, " +
          "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events), " +
          "c AS (SELECT * FROM m WHERE prev IS DISTINCT FROM event_type) " +
          "SELECT user_id, CAST(row_number() OVER w AS INTEGER) AS version, event_type AS state, " +
          "CAST(epoch_us(ts) AS BIGINT) AS valid_from_us, " +
          "CAST(epoch_us(lead(ts) OVER w) AS BIGINT) AS valid_to_us, " +
          "lead(ts) OVER w IS NULL AS is_current " +
          "FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id) " +
          "ORDER BY user_id, version")),

    // streaming heavy hitters — sharded Space-Saving state re-emitting each
    // shard's top-k per batch; the global top-15 is a bounded re-rank over
    // the ≤ shards·k sink rows. m ≥ distinct items here, so the summary is
    // exact and the SAME SQL as q_ext_hh1 is the oracle
    DeclaredQuery(
      "q_ext_stream10",
      (s, d) => {
        val sink = EventStreams.runToMemory(s, d,
          df => EventStreams.heavyHittersStateful(df, m = 65536, k = 15),
          OutputMode.Update, "stream_hh")
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("user_id"))
        sink.withColumn("rank", row_number().over(w).cast("int"))
          .where(col("rank") <= 15)
          .select("rank", "user_id", "n")
          .orderBy("rank")
      },
      Some(
        "WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1), " +
          "r AS (SELECT user_id, n, row_number() OVER (ORDER BY n DESC, user_id) AS rank FROM c) " +
          "SELECT CAST(rank AS INTEGER) AS rank, user_id, n FROM r WHERE rank <= 15 ORDER BY rank")),

    // streaming interval coalescing — the streaming form of q_ext_evt4:
    // per-user O(1) state (closed-island count + the one open island),
    // closed islands emitted final the moment the greedy scan passes them,
    // the open island re-emitted per batch for a keyed sink to upsert.
    // Bounded replay equals the batch gaps-and-islands, so the SAME window
    // SQL is the oracle
    DeclaredQuery(
      "q_ext_stream9",
      (s, d) =>
        EventStreams.runToMemory(s, d,
            df => EventStreams.mergeIntervalsStateful(df, lengthMinutes = 30),
            OutputMode.Update, "stream_islands")
          .orderBy("user_id", "island"),
      Some(
        "WITH iv AS (SELECT user_id, ts AS lo, ts + INTERVAL 30 MINUTE AS hi, event_id FROM events), " +
          "m AS (SELECT user_id, lo, hi, event_id, CASE WHEN epoch_us(lo) > max(epoch_us(hi)) OVER " +
          "(PARTITION BY user_id ORDER BY lo, hi, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) " +
          "THEN 1 ELSE 0 END AS ni FROM iv), " +
          "g AS (SELECT user_id, lo, hi, sum(ni) OVER (PARTITION BY user_id ORDER BY lo, hi, event_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM m) " +
          "SELECT user_id, CAST(island AS INTEGER) AS island, " +
          "CAST(epoch_us(min(lo)) AS BIGINT) AS start_us, CAST(epoch_us(max(hi)) AS BIGINT) AS end_us, " +
          "count(*) AS n FROM g GROUP BY 1, 2 ORDER BY 1, 2")),

    // streaming conversion attribution — the streaming form of q_ext_attr1:
    // per-user state is the (first, last) preceding-touch markers plus the
    // per-(last,first)-pair conversion totals — O(|touch alphabet|²), never
    // event history; each batch re-emits the user's pair list for a keyed
    // sink to upsert. Bounded replay equals the batch window attribution,
    // so the SAME SQL is the oracle
    DeclaredQuery(
      "q_ext_stream11",
      (s, d) =>
        EventStreams.runToMemory(s, d, EventStreams.attributionStateful,
            OutputMode.Update, "stream_attr")
          .groupBy("last_touch", "first_touch")
          .agg(sum(col("n_conv")).as("n_conv"),
            round(sum(col("revenue")), 4).as("revenue"))
          .orderBy("last_touch", "first_touch"),
      Some(
        "WITH t AS (SELECT event_type, value, " +
          "last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS) " +
          "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch, " +
          "first_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS) " +
          "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_touch " +
          "FROM events) " +
          "SELECT last_touch, first_touch, count(*) AS n_conv, round(sum(value), 4) AS revenue " +
          "FROM t WHERE event_type = 'purchase' AND last_touch IS NOT NULL " +
          "GROUP BY 1, 2 ORDER BY 1, 2")),

    // streaming per-type value histogram (bounded (bin,count) state — the
    // sketch behind streaming quantiles): the fold IS the batch
    // floor(value/25) groupBy, so the full SQL oracle applies; p50/p95
    // estimated from cumulative bins with integer-exact comparisons
    DeclaredQuery(
      "q_ext_stream12",
      (s, d) => {
        val hist = EventStreams.runToMemory(s, d,
          df => EventStreams.histogramStateful(df, binWidth = 25.0),
          OutputMode.Update, "stream_hist")
        val wc = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy("bin")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        val wt = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
        hist.withColumn("cum", sum(col("n")).over(wc))
          .withColumn("tot", sum(col("n")).over(wt))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_bins"), max(col("tot")).as("n"),
            min(when(col("cum") * 2 >= col("tot"), col("bin"))).as("p50_bin"),
            min(when(col("cum") * 20 >= col("tot") * 19, col("bin"))).as("p95_bin"))
          .orderBy("event_type")
      },
      Some(
        "WITH h AS (SELECT event_type, CAST(floor(value / 25.0) AS BIGINT) AS bin, count(*) AS n " +
          "FROM events GROUP BY 1, 2), " +
          "c AS (SELECT event_type, bin, n, " +
          "sum(n) OVER (PARTITION BY event_type ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
          "sum(n) OVER (PARTITION BY event_type) AS tot FROM h) " +
          "SELECT event_type, count(*) AS n_bins, CAST(max(tot) AS BIGINT) AS n, " +
          "min(CASE WHEN cum * 2 >= tot THEN bin END) AS p50_bin, " +
          "min(CASE WHEN cum * 20 >= tot * 19 THEN bin END) AS p95_bin " +
          "FROM c GROUP BY 1 ORDER BY 1")),

    // stream-stream interval join (watermarks bound the join state on both
    // sides); on a bounded replay the output equals the batch equi+range
    // join exactly — a full oracle, not just rows
    DeclaredQuery(
      "q_ext_stream3",
      (s, d) =>
        EventStreams.runToMemory(s, d, df => EventStreams.purchaseClickJoin(df, 60),
            OutputMode.Append, "stream_ssjoin")
          .orderBy("p_id", "c_id"),
      Some(
        "WITH p AS (SELECT event_id p_id, user_id, ts p_ts FROM events WHERE event_type='purchase'), " +
          "c AS (SELECT event_id c_id, user_id, ts c_ts FROM events WHERE event_type='click') " +
          "SELECT p.p_id, c.c_id, p.user_id FROM p JOIN c ON p.user_id = c.user_id " +
          "AND c.c_ts >= p.p_ts - INTERVAL 60 MINUTE AND c.c_ts <= p.p_ts " +
          "ORDER BY 1, 2")),

    // stream-stream range join with NO equi-key: streaming refuses the
    // shape outright (stream-stream state must hash-partition on an
    // equality key), so the RangeJoin bucket trick is what makes it
    // expressible at all — purchase lookback intervals explode to bucket
    // ids, clicks map to one bucket, and the join is a watermark-bounded
    // equi-join emitting each true pair exactly once (the click's bucket).
    // Bounded replay equals the batch theta join — the oracle.
    DeclaredQuery(
      "q_ext_stream6",
      (s, d) =>
        EventStreams.runToMemory(s, d, df => EventStreams.rangeJoinStream(df, 10),
            OutputMode.Append, "stream_rangejoin")
          .orderBy("p_id", "c_id"),
      Some(
        "WITH p AS (SELECT event_id p_id, ts p_ts FROM events WHERE event_type='purchase'), " +
          "c AS (SELECT event_id c_id, ts c_ts FROM events WHERE event_type='click') " +
          "SELECT p_id, c_id FROM p JOIN c ON c_ts >= p_ts - INTERVAL 10 MINUTE AND c_ts <= p_ts " +
          "ORDER BY 1, 2")),

    // streaming exact dedup with watermark-bounded state
    // (dropDuplicatesWithinWatermark): which ROW survives per key is
    // arrival-order-dependent, but the surviving KEY SET is deterministic —
    // project to keys so the oracle is the batch DISTINCT. The sink-side
    // distinct() matters: watermark-bounded dedup may legitimately re-emit
    // a key that recurs beyond the watermark horizon once the replay spans
    // multiple micro-batches (one events file today, but the glob is not a
    // contract) — the KEY SET, not the emitted multiset, is the semantics
    DeclaredQuery(
      "q_ext_stream4",
      (s, d) =>
        EventStreams.runToMemory(s, d,
            df => EventStreams.dedupStream(df, Seq("user_id", "event_type")),
            OutputMode.Append, "stream_dedup")
          .select(col("user_id"), col("event_type"))
          .distinct()
          .orderBy("user_id", "event_type"),
      Some(
        "SELECT DISTINCT user_id, event_type FROM events ORDER BY 1, 2")),

    // streaming-materialized-view sink: the events table is staged into 4
    // files and replayed ONE FILE PER MICRO-BATCH; each batch's per-user
    // partial (count, decimal sum) is additively merged into a
    // ParquetDatabase via the file-scoped upsert, batchId-guarded against
    // re-delivery. The final table must equal the batch aggregate of the
    // whole history — asserted against the oracle — and the replay must
    // genuinely span multiple micro-batches (asserted below; a single
    // batch would make the merge path vacuous). Decimal partials make the
    // merged sum independent of batch split and engine.
    DeclaredQuery(
      "q_ext_stream5",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        // RAM-backed per-process scratch: staged source chunks, table, and
        // checkpoint all live in tmpfs so the replay's measured wall clock
        // is the merge pipeline, not the host's disk queue
        val root = graft.Scratch.dir("stream_merge")
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
        // stage decoded events (ts as TIMESTAMP(MICROS); the stream's
        // footer negotiation reads it natively) into 4 chunks = 4 batches
        Tables.load(s, d, "events")
          .repartition(4).write.parquet(s"$root/src")
        val db = EventStreams.mergeStreamToTable(s, s"$root/src",
          batch => batch.groupBy(col("user_id"))
            .agg(count(lit(1)).as("n"),
              sum(col("value").cast(DecimalType(18, 4))).as("total")),
          "user_id", s"$root/tbl", s"$root/ck", maxFilesPerTrigger = 1)
        // the merge marker records the LAST merged batchId — ≥ 1 proves the
        // replay spanned multiple micro-batches (ids start at 0)
        val mk = new org.apache.hadoop.fs.Path(s"$root/ck", "_graft_last_merged")
        val fs = mk.getFileSystem(s.sessionState.newHadoopConf())
        val buf = new Array[Byte](fs.getFileStatus(mk).getLen.toInt)
        val in = fs.open(mk)
        try in.readFully(buf) finally in.close()
        val lastBatch = new String(buf, java.nio.charset.StandardCharsets.UTF_8).trim.toLong
        require(lastBatch >= 1,
          s"q_ext_stream5: replay collapsed into ${lastBatch + 1} micro-batch(es) — " +
            "the merge path was not exercised")
        db.read()
          .select(col("user_id"), col("n"),
            round(col("total").cast("double"), 4).as("total"))
          .orderBy("user_id")
      },
      Some(
        "SELECT user_id, count(*) AS n, " +
          "round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE),4) AS total " +
          "FROM events GROUP BY 1 ORDER BY 1")),

    // STREAMING distinct-count maintenance: the events table replays in 4
    // micro-batches, each folded into the bucketed HLL store (q_ext_hll1's
    // deployment shape) — per batch O(touched buckets), history never
    // re-read, batchId-guarded against re-delivery. Final store estimates
    // must sit within 10% of the exact per-type distinct user count
    // (raise_error otherwise; the exact values are what's emitted — the
    // oracle promotion pattern). HLL union is associative, so the 4-batch
    // stream build converges to the same sketches as a one-shot build.
    DeclaredQuery(
      "q_ext_stream13",
      (s, d) => {
        val root = graft.Scratch.dir("stream_hll")
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
        Tables.load(s, d, "events")
          .repartition(4).write.parquet(s"$root/src")
        val lastBatch = EventStreams.distinctStoreStream(s, s"$root/src",
          Seq("event_type"), "user_id", s"$root/store", s"$root/ck", nBuckets = 16)
        require(lastBatch >= 1,
          s"q_ext_stream13: replay collapsed into ${lastBatch + 1} micro-batch(es) — " +
            "the incremental merge path was not exercised")
        val est = DistinctSketch.readEstimates(s, s"$root/store", "est").drop("bucket")
        val exact = Tables.load(s, d, "events").groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("exact"))
        est.join(exact, "event_type")
          .select(col("event_type"),
            when(abs(col("est") - col("exact")) <=
                greatest(col("exact") * 0.10, lit(5.0)), col("exact"))
              .otherwise(raise_error(concat(
                lit("q_ext_stream13: streamed HLL store estimate "), col("est").cast("string"),
                lit(" strayed past 10% of exact "), col("exact").cast("string"),
                lit(" for event_type="), col("event_type")))).as("n_users"))
          .orderBy("event_type")
      },
      Some(
        "SELECT event_type, count(DISTINCT user_id) AS n_users " +
          "FROM events GROUP BY 1 ORDER BY 1")),

    // ONLINE near-dup discovery over a DOCUMENT stream — the ingest-time
    // form of q_ext_dedup3: documents replay in 4 micro-batches; per-row
    // HOF MinHash + LSH banding feeds the one stateful operator (band-
    // bucket membership, ids only, flatMapGroupsWithState), candidates
    // append to parquet, and a candidate-bounded batch pass confirms exact
    // word-3-gram Jaccard — so the output is the exact near-dup report
    // (dropped doc, earliest keeper, dup count, best score) and the oracle
    // is the plain exact-pair SQL. Pair emission is oriented (min id, max
    // id) whichever side arrives first — a pure function of the document
    // set, immune to batch boundaries. LSH miss < 1e-7 per true pair at
    // jac >= 0.8 with 16x2 banding (the q_ext_dedup8 argument).
    DeclaredQuery(
      "q_ext_stream14",
      (s, d) => {
        val root = graft.Scratch.dir("stream_neardup")
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
        val docs = Tables.load(s, d, "documents").select("doc_id", "text")
        docs.repartition(4).write.parquet(s"$root/src")
        val nBatches = graft.streaming.DocStreams.nearDupCandidateStream(
          s, s"$root/src", s"$root/cand", s"$root/ck")
        require(nBatches >= 2,
          s"q_ext_stream14: replay collapsed into $nBatches micro-batch(es) — " +
            "the cross-batch state path was not exercised")
        val cand = s.read.parquet(s"$root/cand").select("d1", "d2").distinct()
        Dedup.exactJaccardForPairs(cand, docs, "doc_id", "text",
            shingleN = 3, threshold = 0.8)
          .select(col("d2").as("doc_id"), col("d1"), col("jac"))
          .groupBy("doc_id")
          .agg(min(col("d1")).as("dup_of"),
            count(lit(1)).as("n_dups"),
            f4(max(col("jac"))).as("max_jac"))
          .orderBy("doc_id")
      },
      Some(
        s"WITH $jaccardCtes " +
          "SELECT i.d2 AS doc_id, min(i.d1) AS dup_of, count(*) AS n_dups, " +
          "floor(max(CAST(c AS DOUBLE)/(sa.sz+sb.sz-c))*10000)/10000 AS max_jac " +
          "FROM inter i JOIN sz sa ON sa.doc_id=i.d1 JOIN sz sb ON sb.doc_id=i.d2 " +
          "WHERE CAST(c AS DOUBLE)/(sa.sz+sb.sz-c) >= 0.8 " +
          "GROUP BY 1 ORDER BY 1")),

    // STREAMING maintenance of the persisted MinHash store — q_ext_dedup8's
    // store built from 4 document micro-batches instead of one shot (one
    // SEGMENT per batch, batchId inside the segment rename so re-delivery
    // no-ops), then the incoming tick (doc_id % 10 == 0) dedups against it
    // without re-reading corpus text. Segment union is associative, so the
    // N-batch stream build probes identically to the one-shot build
    // (spec-asserted) and dedup8's exact cross-corpus SQL is the oracle.
    DeclaredQuery(
      "q_ext_stream15",
      (s, d) => {
        val root = graft.Scratch.dir("stream_minhash")
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
        val docs = Tables.load(s, d, "documents")
        docs.filter(col("doc_id") % 10 =!= 0).select("doc_id", "text")
          .repartition(4).write.parquet(s"$root/src")
        val nBatches = graft.streaming.DocStreams.minHashStoreStream(
          s, s"$root/src", s"$root/store", s"$root/ck")
        require(nBatches >= 2,
          s"q_ext_stream15: replay collapsed into $nBatches micro-batch(es) — " +
            "the incremental segment-append path was not exercised")
        // maintenance pass on the gate: the N per-batch segments compact to
        // one (retire-then-promote, markers carried), and the probe below
        // must answer identically off the compacted store
        val compacted = Dedup.compactMinHashStore(s, s"$root/store")
        require(compacted.toLong == nBatches,
          s"q_ext_stream15: compacted $compacted segments but the replay " +
            s"committed $nBatches batches — segment-per-batch drifted")
        Dedup.minHashPairsAgainstStore(docs.filter(col("doc_id") % 10 === 0),
            "doc_id", "text", s"$root/store", threshold = 0.8)
          .select(col("d1"), col("d2"), f4(col("jac")).as("jac"))
          .orderBy("d1", "d2")
      },
      Some(
        s"WITH $jaccardCtes2 " +
          "SELECT i.d1, i.d2, floor(CAST(c AS DOUBLE)/(sa.sz+sb.sz-c)*10000)/10000 AS jac " +
          "FROM inter2 i JOIN sz2 sa ON sa.doc_id=i.d1 JOIN sz2 sb ON sb.doc_id=i.d2 " +
          "WHERE CAST(c AS DOUBLE)/(sa.sz+sb.sz-c) >= 0.8 ORDER BY 1,2")),

    // STREAMING maintenance of the persisted IVF index — the vector-index
    // member of the store-maintenance triad (q_ext_stream13 = HLL store,
    // q_ext_stream15 = MinHash store): the index builds once from 3/4 of
    // the corpus under the autoCentroids deployment rule, the remaining
    // 1/4 arrives as embedding micro-batches appended by
    // DocStreams.ivfIndexStream (batchId committed INSIDE the fingerprint,
    // which the append's file-move commit moves in with the batch's files,
    // so foreachBatch re-delivery no-ops and a crashed append rolls back
    // via FileCommit.recover), and the probe runs against the MAINTAINED
    // index.
    // An assigned-store count proves every appended vector is searchable
    // (a lost or doubled batch fails the require, not just the recall
    // guard), the emitted result is the exact cosine top-k over the FULL
    // corpus, and the in-plan recall guard keeps the maintained index's
    // probe quality on the gate — q_ext_sim5's promotion pattern.
    // Since round 11 the MAINTENANCE LIFECYCLE is on the gate too: appends
    // assign to frozen centroids forever, so after the replay the query
    // audits the drift (auditIvfIndex — metadata-priced sizing + skew
    // signals) and runs the rebalance op (forced, so the whole-tree
    // file-move commit executes at every scale), then require()s the sizing rule holds
    // on the rebuilt index, no vector was lost, and the streaming batch
    // ledger survived the rebuild — the properties that let a long-running
    // deployment rebalance without breaking exactly-once ingest.
    DeclaredQuery(
      "q_ext_stream16",
      (s, d) => {
        val root = graft.Scratch.dir("stream_ivf")
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
        val emb = Tables.load(s, d, "embeddings")
        val base = emb.filter(col("vec_id") % 4 =!= 0)
        emb.filter(col("vec_id") % 4 === 0)
          .repartition(4).write.parquet(s"$root/src")
        val (_, kAuto) = Similarity.ensureIvfIndexSized(s, s"$root/ivf", base,
          "vec_id", "embedding", Similarity.autoCentroids(_))
        val nBatches = graft.streaming.DocStreams.ivfIndexStream(
          s, s"$root/src", s"$root/ivf", s"$root/ck")
        require(nBatches >= 2,
          s"q_ext_stream16: replay collapsed into $nBatches micro-batch(es) — " +
            "the incremental append path was not exercised")
        val nIndexed = s.read.parquet(s"$root/ivf/assigned").count()
        val nCorpus = emb.count()
        require(nIndexed == nCorpus,
          s"q_ext_stream16: maintained index holds $nIndexed vectors, corpus has " +
            s"$nCorpus — a streamed batch was lost or double-applied")
        val preAudit = Similarity.auditIvfIndex(s, s"$root/ivf")
        val ledgerBefore = graft.sources.HadoopText.read(
          new org.apache.hadoop.fs.Path(s"$root/ivf/_fingerprint")
            .getFileSystem(s.sessionState.newHadoopConf()),
          new org.apache.hadoop.fs.Path(s"$root/ivf/_fingerprint"))
          .split('|').find(_.startsWith("lastBatch=")).getOrElse(
            throw new IllegalStateException(
              "q_ext_stream16: maintained index carries no batch ledger"))
        val rebuilt = Similarity.rebalanceIvfIndex(s, s"$root/ivf",
          Similarity.autoCentroids(_), force = true)
        val post = Similarity.requireBalancedIvfIndex(s, s"$root/ivf")
        require(rebuilt.contains(post.k) && post.k == post.kAuto,
          s"q_ext_stream16: rebalance left k=${post.k}, the sizing rule wants ${post.kAuto}")
        require(post.n == preAudit.n,
          s"q_ext_stream16: rebalance changed the corpus identity " +
            s"(${preAudit.n} -> ${post.n} vectors)")
        val ledgerAfter = graft.sources.HadoopText.read(
          new org.apache.hadoop.fs.Path(s"$root/ivf/_fingerprint")
            .getFileSystem(s.sessionState.newHadoopConf()),
          new org.apache.hadoop.fs.Path(s"$root/ivf/_fingerprint"))
          .split('|').find(_.startsWith("lastBatch="))
        require(ledgerAfter.contains(ledgerBefore),
          s"q_ext_stream16: rebalance dropped the batch ledger " +
            s"($ledgerBefore -> $ledgerAfter) — exactly-once resume would break")
        val q = emb.filter(col("vec_id") >= 100 && col("vec_id") < 105)
        val out = Similarity.ivfTopKPersisted(s, s"$root/ivf", q,
          "vec_id", "embedding", k = 10, nprobe = (post.k + 1) / 2)
        val exact = Similarity.cosineTopK(emb, q, "vec_id", "embedding", k = 10)
          .localCheckpoint()
        exact.crossJoin(broadcast(pairRecall(exact, out.select(col("qid"), col("nid")),
            Seq("qid", "nid"))))
          .select(col("qid"),
            when(col("recall") >= 0.55, col("rn"))
              .otherwise(raise_error(concat(
                lit("q_ext_stream16: maintained-IVF top-k recall "),
                col("recall").cast("string"), lit(" below 0.55")))).as("rn"),
            col("nid"), r4(col("cos")).as("cos"))
          .orderBy("qid", "rn")
      },
      Some(cosineTopKSql("vec_id >= 100 AND vec_id < 105", 10))))
}
