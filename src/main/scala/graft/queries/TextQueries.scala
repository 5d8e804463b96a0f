package graft.queries

import graft.io.WebPages
import graft.ops.{Dedup, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data-pipeline text operators (builder brief): token counting,
  * quality scoring, language ID, exact dedup, n-gram Jaccard, MinHash/LSH,
  * SimHash, and the UDF-free byte-identical text-extraction invariant. All
  * hashes are integer arithmetic over lexicographic vocab ids — fully
  * reproducible in the DuckDB oracle. */
object TextQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q22_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .orderBy("doc_id")
    }),

    // BPE-ish regex tokenizer (GPT-2-style pre-tokenizer subset); the text
    // gains deterministic punctuation/contractions/digits in-query so the
    // regex actually has boundaries to find
    "q39_bpe_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("t2", regexp_replace(col("text"), " a ", ", it's 42 "))
        .select(col("doc_id"),
          TextAnalysis.bpeishTokenCount(col("t2")).as("n_bpe"),
          TextAnalysis.tokenCount(col("t2")).as("n_ws"))
        .orderBy("doc_id")
    }),

    "q23_quality" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val cols = TextAnalysis.qualityCols(col("text")).map { case (n, c) => c.as(n) }
      d.select(col("doc_id") +: cols: _*).orderBy("doc_id")
    }),

    "q24_langid" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }),

    "q25_dedup_exact" -> ((s, dir) => {
      val keyed = t(s, dir, "documents")
        .withColumn("key", array_join(slice(split(col("text"), " "), 1, 3), " "))
      Dedup.exact(keyed, "doc_id", "key").orderBy("key")
    }),

    // n-gram Jaccard with the document-frequency cap active (grams in > 4
    // docs dropped — the skew guard that keeps hot grams from quadratic
    // per-gram pair blowup at corpus scale)
    "q26_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccard(t(s, dir, "documents"), "doc_id", "text", 3, dfCap = 4)
        .orderBy("a", "b")
    }),

    "q27_minhash" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val voc = Dedup.vocab(docs, "text")
      val tv = Dedup.docTokenVids(docs, "doc_id", "text", voc)
      Dedup.bandKeys(Dedup.minhash(tv, 8))
        .select(col("id").as("doc_id"), col("band"), col("bandkey"))
        .orderBy("doc_id", "band")
    }),

    "q28_simhash" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val voc = Dedup.vocab(docs, "text")
      val tv = Dedup.docTokenVids(docs, "doc_id", "text", voc)
      Dedup.simhash(tv).select(col("id").as("doc_id"), col("simhash"))
        .orderBy("doc_id")
    }),

    // document fingerprint: order-sensitive rolling hash over vocab ids
    "q32_fingerprint" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val voc = Dedup.vocab(docs, "text")
      docs.select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
        .join(voc, "token") // no broadcast hint — AQE decides (vocab scales past broadcast limits)
        .groupBy("doc_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("vid")))).as("pv"))
        .select(col("doc_id"),
          TextAnalysis.fingerprint(transform(col("pv"), p => p.getField("vid"))).as("fp"))
        .orderBy("doc_id")
    }),

    // Gopher-style repetition quality signals (word-unit simplification)
    "q45_repetition" -> ((s, dir) => {
      TextAnalysis.repetitionStats(t(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // dedup clustering: minhash → banded LSH star edges → connected
    // components (min-label flooding), every doc labeled with its group's
    // min id; component == doc_id is the keeper predicate. The oracle runs
    // the identical chain with a recursive-CTE transitive closure.
    "q44_components" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val voc = Dedup.vocab(docs, "text")
      val tv = Dedup.docTokenVids(docs, "doc_id", "text", voc)
      // star edges per bucket — connectivity-identical to the all-pairs
      // candidates, linear instead of quadratic per band bucket; band
      // keys projected from the array signature (no re-agg — round 6)
      val edges = Dedup.lshComponentEdges(Dedup.minhash(tv, 8))
      val cc = Dedup.connectedComponents(edges)
      docs.select(col("doc_id"))
        .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("component"))
        .withColumn("is_keeper", col("component") === col("doc_id"))
        .orderBy("doc_id")
    }),

    // URL canonicalization + registered-domain extraction (crawl group
    // key): messy URLs are synthesized deterministically from doc_id —
    // case-shuffled schemes/hosts, default and explicit ports, trailing
    // host dots, empty paths, unsorted query params, utm_* noise,
    // fragments — and both engines canonicalize with their own native
    // string/list functions (full algorithmic cross-engine oracle)
    "q49_url_canon" -> ((s, dir) => {
      val id = col("doc_id")
      def str(c: Column) = c.cast("string")
      val url = concat(
        when(id % 4 === 0, "http").when(id % 4 === 1, "HTTP")
          .when(id % 4 === 2, "https").otherwise("HTTPS"),
        lit("://WWW.Site"), str(id % 7),
        when(id % 3 === 0, ".CO.UK").otherwise(".COM"),
        when(id % 5 === 0, ".").otherwise(""),
        when(id % 6 === 0, ":80").when(id % 6 === 1, ":443")
          .when(id % 6 === 2, ":8080").otherwise(""),
        when(id % 9 === 0, "").otherwise(concat(lit("/A/b"), str(id % 11))),
        when(id % 4 === 0, concat(lit("?b="), str(id % 13), lit("&a=1&utm_source=x")))
          .when(id % 4 === 1, concat(lit("?a=1&b="), str(id % 13)))
          .when(id % 4 === 2, "?utm_campaign=z").otherwise(""),
        when(id % 2 === 0, "#Frag").otherwise(""))
      val h = graft.ops.Urls.host(col("url"))
      t(s, dir, "documents")
        .select(col("doc_id"), url.as("url"))
        .select(col("doc_id"),
          graft.ops.Urls.canonicalize(col("url")).as("canon_url"),
          h.as("host"),
          graft.ops.Urls.registeredDomain(h).as("domain"))
        .orderBy("doc_id")
    }),

    // corpus bigram-frequency rarity (CCNet-style quality signal), kept
    // integer-exact: n_bigrams, Σ corpus-count, rarest-bigram count
    "q53_bigram_rarity" -> ((s, dir) => {
      TextAnalysis.bigramRarity(t(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // host-graph link analysis over canonicalized registered domains:
    // degree + reciprocity stats. The link table is formula-synthesized
    // messy URLs; the oracle computes the expected domains directly from
    // the grid, so a drift anywhere in host parsing / domain extraction /
    // the graph aggregation breaks the gate
    "q54_link_graph" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
        .withColumn("k", explode(array(lit(0L), lit(1L))))
      val dd = col("doc_id") * 7 + col("k") * 97
      val src = concat(lit("https://WWW.Site"), (col("doc_id") % 7).cast("string"),
        when(col("doc_id") % 3 === 0, ".CO.UK").otherwise(".COM"), lit("/p"))
      val dst = concat(lit("http://Site"), (dd % 7).cast("string"),
        when(dd % 3 === 0, ".CO.UK").otherwise(".COM"), lit("/x"))
      val edges = graft.ops.LinkGraph.domainEdges(
        d.select(src.as("su"), dst.as("du")), "su", "du")
      graft.ops.LinkGraph.domainStats(edges).orderBy("domain")
    }),

    // paragraph-level dedup (Dolma granularity): a paragraph repeated
    // anywhere in the corpus survives only at its globally-first
    // (doc, position) occurrence; docs reassemble from kept paragraphs
    "q57_para_dedup" -> ((s, dir) => {
      val id = col("doc_id")
      def str(c: Column) = c.cast("string")
      val text = concat_ws(" | ",
        concat(lit("para "), str(id % 17)),
        concat(lit("para "), str((id * 3) % 17)),
        concat(lit("para "), str(id % 5)))
      graft.ops.Dedup.dedupParagraphs(
        t(s, dir, "documents").select(col("doc_id"), text.as("ptext")),
        "doc_id", "ptext", " | ")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // PII scrubbing (CCNet/Dolma pre-release pass): emails, dotted-quad
    // IPs, international phones planted deterministically, redacted by
    // the lookahead-free regex chain both engines run natively
    "q56_pii_redact" -> ((s, dir) => {
      val id = col("doc_id")
      def str(c: Column) = c.cast("string")
      val text = concat(
        lit("contact user"), str(id % 100), lit("@mail"), str(id % 10),
        lit(".example.com now "),
        when(id % 3 === 0,
          concat(lit("ip 10.0."), str(id % 256), lit("."), str((id * 7) % 256), lit(" ")))
          .otherwise(""),
        when(id % 2 === 0,
          concat(lit("tel +49 30 "), str(lit(1000) + id % 9000), lit(" ")))
          .otherwise(""),
        lit("end"))
      val piiCols = TextAnalysis.piiCounts(text).map { case (n, c) => c.as(n) }
      t(s, dir, "documents")
        .select(Seq(col("doc_id"),
          TextAnalysis.redactPii(text).as("redacted")) ++ piiCols: _*)
        .orderBy("doc_id")
    }),

    // robots.txt admission control, END TO END (RFC 9309): per-host
    // robots.txt PAYLOADS are synthesized, parsed with Robots.parse
    // (group selection picks the * group — a megabot group is present
    // and must NOT match), and the parsed rules evaluate relationally
    // (host join + LIKE ESCAPE + one max(struct)) under
    // longest-matching-pattern precedence with allow winning length
    // ties. The grid includes a literal-'%' pattern (percent-encoded
    // path, common in real robots.txt) plus a path that an UNescaped
    // LIKE translation would wrongly block — the oracle pins both.
    "q55_robots" -> ((s, dir) => {
      import s.implicits._
      def hostCol(c: Column) = concat(lit("site"), c.cast("string"), lit(".com"))
      val rules = s.range(0, 5).as[Long].flatMap { i =>
        val robotsTxt =
          s"""# crawl policy for site$i
             |User-agent: megabot
             |Disallow: /megabot-only
             |
             |User-agent: *
             |Disallow: /private
             |Allow: /private/open$i
             |Disallow: /a$i*
             |Disallow: /exact$i$$
             |Disallow: /q%22search$i
             |Crawl-delay: 5
             |""".stripMargin
        graft.ops.Robots.parse(robotsTxt, "trainingbot/1.0")
          .map(r => (s"site$i.com", r.pattern, r.allow))
      }.toDF("host", "pattern", "allow")
      val h = (col("doc_id") % 5).cast("string")
      val urls = t(s, dir, "documents").select(col("doc_id"),
        hostCol(col("doc_id") % 5).as("host"),
        when(col("doc_id") % 8 === 0, "/private/x")
          .when(col("doc_id") % 8 === 1, concat(lit("/private/open"), h, lit("/y")))
          .when(col("doc_id") % 8 === 2, concat(lit("/a"), h, lit("nything")))
          .when(col("doc_id") % 8 === 3, concat(lit("/exact"), h))
          .when(col("doc_id") % 8 === 4, concat(lit("/exact"), h, lit("/sub")))
          .when(col("doc_id") % 8 === 5, concat(lit("/q%22search"), h, lit("/x")))
          .when(col("doc_id") % 8 === 6, concat(lit("/qX22search"), h, lit("/x")))
          .otherwise("/pub").as("path"))
      graft.ops.Robots.evaluate(urls, rules, "doc_id").orderBy("doc_id")
    }),

    // WARC container round trip (ISO 28500, the format Common Crawl
    // ships): deterministic .warc / .warc.gz payloads built row-side,
    // parsed per-partition by the hand-rolled codec; every header field
    // and body length is closed-form in (file id, record seq)
    "q51_warc" -> ((s, _) => {
      import s.implicits._
      val files = s.range(0, 300, 1, 8).map { id =>
        val recs = (0 until (1 + (id % 3)).toInt).map { seq =>
          val bodyLen = 10 + ((id * 7 + seq) % 23).toInt
          graft.io.Warc.WarcRecord(
            if (seq % 2 == 0) "response" else "request",
            s"https://example.org/p/${id * 10 + seq}",
            java.time.Instant.ofEpochSecond(1700000000L + id % 2592000L).toString,
            s"<urn:uuid:$id-$seq>",
            "application/http", Array.fill(bodyLen)('w'.toByte))
        }
        // even ids: one gzip member per record; odd ids: plain
        (id.toString,
          if (id % 2 == 0) graft.io.Warc.writeGz(recs) else graft.io.Warc.write(recs))
      }.toDF("path", "content")
      graft.io.Warc.records(files)
        .select(col("path").cast("long").as("file_id"), col("rec_seq"),
          col("warc_type"), col("url"),
          to_timestamp(col("warc_date"), "yyyy-MM-dd'T'HH:mm:ssX")
            .cast("long").as("ts_epoch"),
          length(col("body")).as("body_len"))
        .orderBy("file_id", "rec_seq")
    }),

    // P20 / input_hint invariant: byte-identical extracted text per url,
    // over the synthetic web-page table (UDF-free decode + regexp chain)
    "q29_extract_text" -> ((s, dir) => {
      WebPages.pages(s, 500, 8)
        .select(col("url"), col("text"), col("lang"),
          (encode(WebPages.extractedText(col("html")), "UTF-8") ===
            encode(col("text"), "UTF-8")).as("ok"))
        .orderBy("url")
    })
  )

  private val tvSql =
    """toks AS (SELECT DISTINCT doc_id, token FROM
         (SELECT doc_id, unnest(string_split(text,' ')) AS token FROM documents)),
       voc AS (SELECT token,
           CAST(row_number() OVER (ORDER BY token) - 1 AS BIGINT) AS vid
         FROM (SELECT DISTINCT token FROM toks)),
       tv AS (SELECT doc_id, vid FROM toks JOIN voc USING(token))"""

  val oracleSql: Map[String, String] = Map(
    "q22_tokens" ->
      """SELECT doc_id, CAST(len(string_split(text,' ')) AS INTEGER) AS n_tokens
         FROM documents ORDER BY doc_id""",
    "q39_bpe_tokens" ->
      """SELECT doc_id,
           CAST(len(regexp_extract_all(t2,
             '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +')) AS INTEGER) AS n_bpe,
           CAST(len(string_split(t2, ' ')) AS INTEGER) AS n_ws
         FROM (SELECT doc_id, replace(text, ' a ', ', it''s 42 ') AS t2 FROM documents)
         ORDER BY doc_id""",
    "q23_quality" ->
      """SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
           CAST(length(text) - (len(string_split(text,' ')) - 1) AS DOUBLE) /
             CAST(len(string_split(text,' ')) AS DOUBLE) AS mean_tok_len,
           CAST((length(text) - length(replace(text,'the','')))/3 AS BIGINT) AS stopword_cnt,
           CAST(length(text) - length(regexp_replace(text,'[0-9]','','g')) AS BIGINT) AS digit_cnt
         FROM documents ORDER BY doc_id""",
    "q24_langid" ->
      """SELECT doc_id, CASE
           WHEN (length(text)-length(replace(text,'the','')))/3 >= (length(text)-length(replace(text,'query','')))/5
            AND (length(text)-length(replace(text,'the','')))/3 >= (length(text)-length(replace(text,'data','')))/4
           THEN 'en'
           WHEN (length(text)-length(replace(text,'query','')))/5 >= (length(text)-length(replace(text,'data','')))/4
           THEN 'qlang' ELSE 'dlang' END AS lang_pred
         FROM documents ORDER BY doc_id""",
    "q25_dedup_exact" ->
      """SELECT key, min(doc_id) AS keeper, count(*) AS n_dupes FROM
         (SELECT doc_id, array_to_string((string_split(text,' '))[1:3], ' ') AS key
          FROM documents) GROUP BY key ORDER BY key""",
    "q26_jaccard" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
         grams0 AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+2],' ') AS gram
           FROM toks, unnest(generate_series(1, len(ts)-2)) AS u(i)),
         kept AS (SELECT gram FROM
           (SELECT gram, count(*) AS df FROM grams0 GROUP BY 1) WHERE df <= 4),
         grams AS (SELECT doc_id, gram FROM grams0 JOIN kept USING(gram)),
         sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
         inter AS (SELECT g1.doc_id AS a, g2.doc_id AS b, count(*) AS inter
           FROM grams g1 JOIN grams g2 ON g1.gram = g2.gram
             AND g1.doc_id < g2.doc_id
           GROUP BY 1,2)
         SELECT a, b, inter,
           CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jacc
         FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
         ORDER BY a, b""",
    "q27_minhash" ->
      s"""WITH $tvSql,
         mh AS (SELECT doc_id, j, min(((vid+1)*(2654435761 + 2*j) + j*7919) % 2147483647) AS mh
           FROM tv, unnest(generate_series(0,7)) AS g(j) GROUP BY 1,2)
         SELECT doc_id, CAST(j//2 AS INTEGER) AS band,
           min(CASE WHEN j%2=0 THEN mh END) * 2147483647 +
           min(CASE WHEN j%2=1 THEN mh END) AS bandkey
         FROM mh GROUP BY doc_id, j//2 ORDER BY doc_id, band""",
    "q28_simhash" ->
      s"""WITH $tvSql,
         votes AS (SELECT doc_id, k,
             sum(2*(((vid*2654435761 + k*40503) >> 13) & 1) - 1) AS s
           FROM tv, unnest(generate_series(0,59)) AS g(k) GROUP BY 1,2)
         SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT) AS simhash
         FROM votes GROUP BY doc_id ORDER BY doc_id""",
    "q32_fingerprint" ->
      s"""WITH $tvSql,
         seq AS (SELECT doc_id, i AS pos, ts[i] AS token FROM
           (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
           unnest(generate_series(1, len(ts))) AS u(i)),
         vids AS (SELECT doc_id, array_agg(vid ORDER BY pos) AS vl
           FROM seq JOIN voc USING(token) GROUP BY doc_id)
         SELECT doc_id,
           list_reduce(list_prepend(CAST(1125899906842597 AS BIGINT), vl),
             (x, y) -> (x*31 + y) % 72057594037927936) AS fp
         FROM vids ORDER BY doc_id""",
    "q45_repetition" ->
      """WITH base AS (SELECT doc_id, text, string_split(text,' ') AS ts,
             length(text) AS nc FROM documents),
         bi AS (SELECT doc_id, nc, array_to_string(ts[i:i+1],' ') AS gram
           FROM base, unnest(generate_series(1, len(ts)-1)) AS u(i)),
         bic AS (SELECT doc_id, nc, gram, count(*) AS cnt FROM bi GROUP BY 1,2,3),
         top AS (SELECT doc_id,
             CAST(struct_extract(t,'cnt') * length(struct_extract(t,'gram')) AS DOUBLE)
               / CAST(nc AS DOUBLE) AS top_bigram_frac
           FROM (SELECT doc_id, nc, max({'cnt': cnt, 'gram': gram}) AS t
                 FROM bic GROUP BY 1,2)),
         tri AS (SELECT doc_id, nc, array_to_string(ts[i:i+2],' ') AS gram
           FROM base, unnest(generate_series(1, len(ts)-2)) AS u(i)),
         tric AS (SELECT doc_id, nc, gram, count(*) AS cnt FROM tri GROUP BY 1,2,3),
         dtri AS (SELECT doc_id,
             CAST(sum(CASE WHEN cnt > 1 THEN cnt * length(gram) ELSE 0 END) AS DOUBLE)
               / CAST(nc AS DOUBLE) AS dup_trigram_frac
           FROM tric GROUP BY doc_id, nc)
         SELECT b.doc_id,
           CAST(len(b.ts) AS INTEGER) AS n_tokens,
           CAST(len(b.ts) - len(list_distinct(b.ts)) AS DOUBLE)
             / CAST(len(b.ts) AS DOUBLE) AS dup_token_frac,
           coalesce(top.top_bigram_frac, 0.0) AS top_bigram_frac,
           coalesce(dtri.dup_trigram_frac, 0.0) AS dup_trigram_frac
         FROM base b LEFT JOIN top ON top.doc_id = b.doc_id
           LEFT JOIN dtri ON dtri.doc_id = b.doc_id
         ORDER BY b.doc_id""",
    "q44_components" ->
      s"""WITH RECURSIVE $tvSql,
         mh AS (SELECT doc_id, j, min(((vid+1)*(2654435761 + 2*j) + j*7919) % 2147483647) AS mh
           FROM tv, unnest(generate_series(0,7)) AS g(j) GROUP BY 1,2),
         bk AS (SELECT doc_id, j//2 AS band,
             min(CASE WHEN j%2=0 THEN mh END) * 2147483647 +
             min(CASE WHEN j%2=1 THEN mh END) AS bandkey
           FROM mh GROUP BY doc_id, j//2),
         pairs AS (SELECT b1.doc_id AS a, b2.doc_id AS b FROM bk b1 JOIN bk b2
           ON b1.band = b2.band AND b1.bandkey = b2.bandkey AND b1.doc_id < b2.doc_id
           GROUP BY 1, 2),
         edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
         reach(id, r) AS (
           SELECT a AS id, a AS r FROM edges
           UNION
           SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b),
         comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
         SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component,
           coalesce(c.component, d.doc_id) = d.doc_id AS is_keeper
         FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
         ORDER BY d.doc_id""",
    "q49_url_canon" ->
      """WITH u AS (SELECT doc_id,
           CASE doc_id%4 WHEN 0 THEN 'http' WHEN 1 THEN 'HTTP'
                WHEN 2 THEN 'https' ELSE 'HTTPS' END ||
           '://WWW.Site' || (doc_id%7)::VARCHAR ||
           CASE WHEN doc_id%3=0 THEN '.CO.UK' ELSE '.COM' END ||
           CASE WHEN doc_id%5=0 THEN '.' ELSE '' END ||
           CASE doc_id%6 WHEN 0 THEN ':80' WHEN 1 THEN ':443'
                WHEN 2 THEN ':8080' ELSE '' END ||
           CASE WHEN doc_id%9=0 THEN '' ELSE '/A/b' || (doc_id%11)::VARCHAR END ||
           CASE doc_id%4 WHEN 0 THEN '?b=' || (doc_id%13)::VARCHAR || '&a=1&utm_source=x'
                WHEN 1 THEN '?a=1&b=' || (doc_id%13)::VARCHAR
                WHEN 2 THEN '?utm_campaign=z' ELSE '' END ||
           CASE WHEN doc_id%2=0 THEN '#Frag' ELSE '' END AS url
           FROM documents),
         p AS (SELECT doc_id,
           lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
           regexp_replace(regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
             '#.*$', '') AS rest FROM u),
         a AS (SELECT *, regexp_extract(rest, '^([^/?#]*)', 1) AS auth FROM p),
         h AS (SELECT *,
           regexp_replace(regexp_replace(lower(auth), ':[0-9]*$', ''), '\.$', '') AS hst,
           regexp_extract(auth, ':([0-9]+)$', 1) AS prt,
           substr(rest, length(auth) + 1) AS pathq FROM a),
         c AS (SELECT *,
           CASE WHEN regexp_extract(pathq, '^([^?]*)', 1) = '' THEN '/'
                ELSE regexp_extract(pathq, '^([^?]*)', 1) END AS pth,
           list_sort(list_filter(string_split(regexp_extract(pathq, '\?(.*)$', 1), '&'),
             x -> x <> '' AND left(x, 4) <> 'utm_')) AS params,
           prt <> '' AND NOT ((sch='http' AND prt='80') OR (sch='https' AND prt='443'))
             AS keep_port,
           string_split(hst, '.') AS labels FROM h)
         SELECT doc_id,
           sch || '://' || hst ||
             CASE WHEN keep_port THEN ':' || prt ELSE '' END || pth ||
             CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&')
                  ELSE '' END AS canon_url,
           hst AS host,
           CASE WHEN len(labels) <= 2 THEN hst
                WHEN labels[-2] IN ('co','com','org','net','ac','gov','edu')
                THEN labels[-3] || '.' || labels[-2] || '.' || labels[-1]
                ELSE labels[-2] || '.' || labels[-1] END AS domain
         FROM c ORDER BY doc_id""",
    "q53_bigram_rarity" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         ix AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks),
         bg AS (SELECT doc_id,
             t[CAST(i AS INTEGER)] || ' ' || t[CAST(i + 1 AS INTEGER)] AS bigram
           FROM ix),
         cf AS (SELECT bigram, count(*) AS cf FROM bg GROUP BY bigram)
         SELECT bg.doc_id, count(*) AS n_bigrams,
           CAST(sum(cf.cf) AS BIGINT) AS sum_cf,
           CAST(min(cf.cf) AS BIGINT) AS min_cf
         FROM bg JOIN cf USING (bigram)
         GROUP BY bg.doc_id ORDER BY bg.doc_id""",
    "q57_para_dedup" ->
      """WITH p0 AS (SELECT doc_id, unnest([0, 1, 2]) AS pos FROM documents),
         p AS (SELECT doc_id, pos, 'para ' ||
             (CASE pos WHEN 0 THEN doc_id%17 WHEN 1 THEN (doc_id*3)%17
                       ELSE doc_id%5 END)::VARCHAR AS para FROM p0),
         kept AS (SELECT doc_id, pos, para FROM (
             SELECT doc_id, pos, para,
               row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
             FROM p) WHERE rn = 1),
         agg AS (SELECT doc_id, count(*) AS n_kept,
             string_agg(para, ' | ' ORDER BY pos) AS clean_text
           FROM kept GROUP BY doc_id)
         SELECT d.doc_id, COALESCE(agg.clean_text, '') AS clean_text,
           CAST(COALESCE(agg.n_kept, 0) AS BIGINT) AS n_kept
         FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
         ORDER BY d.doc_id""",
    "q56_pii_redact" ->
      """WITH t AS (SELECT doc_id,
           'contact user' || (doc_id%100)::VARCHAR || '@mail' ||
           (doc_id%10)::VARCHAR || '.example.com now ' ||
           CASE WHEN doc_id%3=0 THEN 'ip 10.0.' || (doc_id%256)::VARCHAR ||
             '.' || ((doc_id*7)%256)::VARCHAR || ' ' ELSE '' END ||
           CASE WHEN doc_id%2=0 THEN 'tel +49 30 ' ||
             (1000 + doc_id%9000)::VARCHAR || ' ' ELSE '' END ||
           'end' AS text FROM documents)
         SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)+', '<EMAIL>', 'g'),
             '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
             '\+[0-9]{1,3}([ -][0-9]{2,4}){1,3}', '<PHONE>', 'g') AS redacted,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)+')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(text,
             '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ip,
           CAST(len(regexp_extract_all(text,
             '\+[0-9]{1,3}([ -][0-9]{2,4}){1,3}')) AS BIGINT) AS n_phone
         FROM t ORDER BY doc_id""",
    "q55_robots" ->
      """WITH hosts AS (SELECT range AS h FROM range(5)),
         rules AS (
           SELECT 'site'||(h)::VARCHAR||'.com' AS host, '/private' AS pattern,
                  FALSE AS allow FROM hosts
           UNION ALL SELECT 'site'||(h)::VARCHAR||'.com',
                  '/private/open'||(h)::VARCHAR, TRUE FROM hosts
           UNION ALL SELECT 'site'||(h)::VARCHAR||'.com',
                  '/a'||(h)::VARCHAR||'*', FALSE FROM hosts
           UNION ALL SELECT 'site'||(h)::VARCHAR||'.com',
                  '/exact'||(h)::VARCHAR||'$', FALSE FROM hosts
           UNION ALL SELECT 'site'||(h)::VARCHAR||'.com',
                  '/q%22search'||(h)::VARCHAR, FALSE FROM hosts),
         r AS (SELECT host, pattern, allow, length(pattern) AS plen,
           CASE WHEN pattern LIKE '%$'
                THEN replace(replace(replace(replace(
                       left(pattern, length(pattern)-1),
                       '\', '\\'), '%', '\%'), '_', '\_'), '*', '%')
                ELSE replace(replace(replace(replace(pattern,
                       '\', '\\'), '%', '\%'), '_', '\_'), '*', '%') || '%'
           END AS lk FROM rules),
         urls AS (SELECT doc_id,
           'site'||(doc_id%5)::VARCHAR||'.com' AS host,
           CASE doc_id%8 WHEN 0 THEN '/private/x'
             WHEN 1 THEN '/private/open'||(doc_id%5)::VARCHAR||'/y'
             WHEN 2 THEN '/a'||(doc_id%5)::VARCHAR||'nything'
             WHEN 3 THEN '/exact'||(doc_id%5)::VARCHAR
             WHEN 4 THEN '/exact'||(doc_id%5)::VARCHAR||'/sub'
             WHEN 5 THEN '/q%22search'||(doc_id%5)::VARCHAR||'/x'
             WHEN 6 THEN '/qX22search'||(doc_id%5)::VARCHAR||'/x'
             ELSE '/pub' END AS path FROM documents),
         j AS (SELECT u.doc_id, u.host, u.path, r.plen, r.allow
           FROM urls u LEFT JOIN r
             ON u.host = r.host AND u.path LIKE r.lk ESCAPE '\'),
         best AS (SELECT doc_id, host, path, allow,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY plen DESC NULLS LAST, allow DESC NULLS LAST) AS rn
           FROM j)
         SELECT doc_id, host, path, COALESCE(allow, TRUE) AS allowed
         FROM best WHERE rn = 1 ORDER BY doc_id""",
    "q54_link_graph" ->
      """WITH d0 AS (SELECT doc_id, unnest([0, 1]) AS k FROM documents),
         e0 AS (SELECT
             'site' || (doc_id%7)::VARCHAR ||
               CASE WHEN doc_id%3=0 THEN '.co.uk' ELSE '.com' END AS src,
             'site' || ((doc_id*7 + k*97)%7)::VARCHAR ||
               CASE WHEN (doc_id*7 + k*97)%3=0 THEN '.co.uk' ELSE '.com' END AS dst
           FROM d0),
         e AS (SELECT src, dst FROM e0 WHERE src <> dst),
         de AS (SELECT DISTINCT src, dst FROM e),
         recip AS (SELECT de.src, count(*) AS recip_out FROM de
           WHERE EXISTS (SELECT 1 FROM de r WHERE r.src = de.dst AND r.dst = de.src)
           GROUP BY de.src),
         o AS (SELECT src, count(*) AS out_edges,
               count(DISTINCT dst) AS out_domains FROM e GROUP BY src),
         i AS (SELECT dst AS src, count(*) AS in_edges FROM e GROUP BY dst)
         SELECT COALESCE(o.src, i.src) AS domain,
           CAST(COALESCE(out_edges, 0) AS BIGINT) AS out_edges,
           CAST(COALESCE(out_domains, 0) AS BIGINT) AS out_domains,
           CAST(COALESCE(in_edges, 0) AS BIGINT) AS in_edges,
           CAST(COALESCE(recip_out, 0) AS BIGINT) AS recip_out
         FROM o FULL JOIN i ON o.src = i.src
         LEFT JOIN recip ON COALESCE(o.src, i.src) = recip.src
         ORDER BY domain""",
    "q51_warc" ->
      """WITH f AS (SELECT range AS id FROM range(300)),
         r AS (SELECT id, unnest(range(0, 1 + id % 3)) AS seq FROM f)
         SELECT id AS file_id, CAST(seq AS INTEGER) AS rec_seq,
           CASE WHEN seq % 2 = 0 THEN 'response' ELSE 'request' END AS warc_type,
           'https://example.org/p/' || (id*10 + seq)::VARCHAR AS url,
           1700000000 + id % 2592000 AS ts_epoch,
           CAST(10 + (id*7 + seq) % 23 AS INTEGER) AS body_len
         FROM r ORDER BY file_id, rec_seq""",
    "q29_extract_text" -> {
      val words = WebPages.Words.map(w => s"'$w'").mkString("[", ",", "]")
      val langs = WebPages.Langs.map(w => s"'$w'").mkString("[", ",", "]")
      s"""SELECT 'https://example.org/p/' || id AS url,
           array_to_string(
             [ ($words)[CAST((id*7919 + i*104729)%32 + 1 AS INTEGER)]
               for i in range(0, CAST(5 + id%20 AS INTEGER)) ], ' ') AS text,
           ($langs)[CAST(id%5 + 1 AS INTEGER)] AS lang,
           TRUE AS ok
         FROM (SELECT range AS id FROM range(500)) ORDER BY url"""
    }
  )
}
