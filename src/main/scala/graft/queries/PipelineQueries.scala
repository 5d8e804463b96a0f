package graft.queries

import graft.io.{Warc, WebPages}
import graft.ops.{Dedup, Robots, TextAnalysis, Urls}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q58 — the composed crawl-to-corpus pipeline, end to end under one gate:
  *
  *   WARC container (ISO 28500, gzip-membered and plain; response
  *       bodies carry the real HTTP envelope)
  *     → per-record parse → HTTP-envelope strip (Warc.httpPayload)
  *     → P20 deterministic text extraction
  *     → URL canonicalization (RFC 3986 + crawl extras)
  *     → robots.txt admission (payload → parse → relational evaluate)
  *     → quality (token count) + language-ID filters
  *     → exact dedup on canonical url (keep min doc)
  *     → near-dup collapse on digit-normalized text (keep min doc;
  *       the MinHash/LSH near-dup arm is gated separately at q47)
  *     → PII redaction (emails → <EMAIL>) with pre-redaction counts
  *     → corpus-level paragraph dedup over the REDACTED text (a repeated
  *       paragraph survives only at its globally-first (doc, pos))
  *     → deterministic train/val split.
  *
  * Every individual stage already has its own gate (q51, q29/q49, q55,
  * q22-q24, q25, q56, q57); this gate proves they COMPOSE: the DuckDB
  * oracle replays the full chain — admission LIKE, token/marker counts,
  * both dedup group-bys, the redaction regexes, and the paragraph
  * row_number — from the same closed-form synthetic crawl.
  *
  * Synthesis (all pure functions of the page id `pid`, m = pid % 150):
  * 600 pages in 200 WARC files; 4 pids per m share one canonical url
  * (messy casings/ports/utm/fragments differ); text is three " | "
  * paragraphs: a shared intro (repeats across docs with equal m % 17), a
  * body carrying the doc's own digits plus language markers (three
  * planted variants: too-short, query-language, normal), and a planted
  * email that redacts to the SAME string corpus-wide — so paragraph
  * dedup keeps it only in the globally-first surviving doc. */
object PipelineQueries {

  private val NFiles = 200
  private val RecsPerFile = 3

  /** closed-form page text for m = pid % 150 — mirrored in the oracle */
  private def pageText(m: Long): String = {
    val w17 = WebPages.Words((m % 17).toInt)
    val w8 = WebPages.Words((m % 8).toInt)
    val para1 = s"intro $w17"
    val para2 =
      if (m % 13 == 0) "the" // too short → length-filtered
      else if (m % 10 == 0) s"doc $m query data query query" // → qlang
      else s"doc $m body $w8 the data"
    val para3 = s"contact user$m@mail.example.com"
    s"$para1 | $para2 | $para3"
  }

  /** messy raw url — canonicalizes to http://site{m%5}.com/p/{m} */
  private def messyUrl(pid: Long): String = {
    val m = pid % 150
    val scheme = if (pid % 2 == 0) "http" else "HTTP"
    val host = (if (pid % 3 == 0) "Site" else "site") + (m % 5) +
      (if (pid % 4 == 0) ".COM." else ".com")
    val port = if (pid % 6 == 0) ":80" else ""
    val query = if (pid % 2 == 0) "?utm_source=x" else ""
    val frag = if (pid % 5 == 0) "#frag" else ""
    s"$scheme://$host$port/p/$m$query$frag"
  }

  /** Stages 1-5 shared by q58 and q67: WARC files → parse → HTTP-envelope
    * strip → P20 extraction → URL canonicalization → robots admission →
    * quality/lang filters → exact dedup on canonical url. Returns the
    * exact-kept docs (pid, url, text, canon_url, host, path, n_dupes). */
  private def crawlExactKept(s: SparkSession): DataFrame = {
    import s.implicits._
    // 1. the crawl at rest: WARC files (even ids gzip-per-record, odd
    //    plain), response bodies carrying the REAL HTTP envelope the
    //    crawl stores (status line + headers + blank line + html)
    val files = s.range(0, NFiles, 1, 8).map { fid =>
      val recs = (0 until RecsPerFile).map { seq =>
        val pid = fid * RecsPerFile + seq
        val html = s"<html><body><p>${pageText(pid % 150)}</p></body></html>"
        val body = "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
          s"Content-Length: ${html.getBytes("UTF-8").length}\r\n\r\n" + html
        Warc.WarcRecord("response", messyUrl(pid),
          java.time.Instant.ofEpochSecond(1700000000L + pid).toString,
          s"<urn:uuid:q58-$pid>", "application/http; msgtype=response",
          body.getBytes("UTF-8"))
      }
      (fid.toString, if (fid % 2 == 0) Warc.writeGz(recs) else Warc.write(recs))
    }.toDF("path", "content")

    // 2. parse, strip the HTTP envelope, extract (P20), canonicalize
    val pages = Warc.records(files)
      .select((col("path").cast("long") * RecsPerFile + col("rec_seq")).as("pid"),
        col("url"),
        WebPages.extractedText(Warc.httpPayload(col("body"))).as("text"))
      .withColumn("canon_url", Urls.canonicalize(col("url")))
      .withColumn("host", Urls.host(col("url")))
      .withColumn("path", regexp_replace(col("canon_url"), "^[a-z]+://[^/]*", ""))

    // 3. robots admission, from parsed per-host payloads
    val rules = s.range(0, 5).as[Long].flatMap { h =>
      Robots.parse("User-agent: *\nDisallow: /p/12*\n", "trainingbot")
        .map(r => (s"site$h.com", r.pattern, r.allow))
    }.toDF("host", "pattern", "allow")
    // round 6: the page columns ride THROUGH the admission aggregation
    // (first() per pid — deterministic, every rule-joined copy is the
    // same page row) instead of re-joining the verdict onto `pages`,
    // which duplicated the whole WARC-parse subtree under both join
    // sides and parsed the crawl twice per cache fill
    val admitted = Robots.evaluate(pages, rules, "pid",
        carryCols = Seq("url", "text", "canon_url"))
      .where(col("allowed"))
      .select("pid", "url", "text", "canon_url", "host", "path")

    // 4. quality + language filters
    val quality = admitted.where(
      TextAnalysis.tokenCount(col("text")) >= 8 &&
        TextAnalysis.langId(col("text")) === "en")

    // 5. exact dedup on canonical url — keeper + dupe count via ONE
    // window over the url key (round 6: the Dedup.exact + join-back
    // spelling duplicated the whole WARC-parse→admission→quality subtree
    // under both join sides, so the cache fill parsed the crawl twice)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("canon_url")
    quality
      .withColumn("_keeper", min("pid").over(w))
      .withColumn("n_dupes", count(lit(1)).over(w))
      .where(col("pid") === col("_keeper"))
      .drop("_keeper")
  }

  /** Stages 7-9 shared by q58 and q67: PII redaction (with pre-redaction
    * counts) → corpus paragraph dedup over the REDACTED text →
    * deterministic train/val split → final corpus row. */
  private def finishCorpus(survivors: DataFrame): DataFrame = {
    // consumed twice (paragraph-dedup input + final projection)
    val redacted = survivors
      .withColumn("redacted", TextAnalysis.redactPii(col("text")))
      .withColumn("n_email", TextAnalysis.piiCounts(col("text")).head._2)
      .persist()
    val paraDone = Dedup.dedupParagraphs(
      redacted.select(col("pid"), col("redacted")), "pid", "redacted", " | ")
      .withColumnRenamed("id", "pid")
    redacted.select("pid", "canon_url", "n_dupes", "n_email")
      .join(paraDone, "pid")
      .withColumn("split", when(col("pid") % 10 < 8, "train").otherwise("val"))
      .select(col("pid").as("doc_id"), col("canon_url"), col("clean_text"),
        col("n_kept"), col("n_dupes"), col("n_email"), col("split"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q58_crawl_corpus" -> ((s, _) => {
      // the exact-kept crawl is consumed by several downstream actions
      // (dedup key build, keeper join, redaction); persist the ~150-row
      // frame so the WARC-parse chain runs once, not per action
      val exactKept = crawlExactKept(s).persist()
      // 6. near-dup collapse on the digit-normalized text key — keeper
      // via one window (round 6: the Dedup.exact + join-back spelling
      // cost an aggregate exchange + a join exchange for the same rows)
      val wN = org.apache.spark.sql.expressions.Window.partitionBy("norm")
      finishCorpus(exactKept
        .withColumn("norm", regexp_replace(col("text"), "[0-9]", ""))
        .withColumn("_keep", min("pid").over(wN))
        .where(col("pid") === col("_keep"))
        .drop("norm", "_keep"))
    }),

    // q67 — the composite with the PRODUCTION fuzzy arm: stage 6 is the
    // full MinHash-LSH near-dup pipeline (vocab → doc token vids → typed
    // MinHash Aggregator → banded star edges → connected components →
    // keep component-min) over the exact-kept docs, composed with the
    // same admission-before-dedup and dedup-before-redaction ordering as
    // q58. The oracle replays vocab ids, the universal-hash minima, band
    // keys, and the transitive closure (recursive CTE — the q44
    // technique) INSIDE the full-chain q58 oracle. Near-dup here is real:
    // docs sharing intro/body word choices but differing in digits/email
    // land in one component only when enough band keys collide.
    "q67_crawl_corpus_lsh" -> ((s, _) => {
      // persist: the LSH arm walks this frame many times (vocab, token
      // vids, star edges, component count, keeper join, redaction) — the
      // WARC-parse chain must not re-execute per action
      val exactKept = crawlExactKept(s).persist()
      // 6'. MinHash-LSH near-dup over the surviving docs' text
      val voc = Dedup.vocab(exactKept, "text")
      val tv = Dedup.docTokenVids(exactKept, "pid", "text", voc)
      val edges = Dedup.lshComponentEdges(Dedup.minhash(tv, 8))
      val cc = Dedup.connectedComponents(edges)
      val keepers = exactKept.select(col("pid"))
        .join(cc.withColumnRenamed("id", "pid"), Seq("pid"), "left")
        .where(coalesce(col("comp"), col("pid")) === col("pid"))
        .select("pid")
      finishCorpus(exactKept.join(keepers, "pid"))
    }),

    // Training-order sharding + GPT-style sequence packing (ops/Packing):
    // stateless ring-arithmetic shuffle key → shard → one window cumsum
    // per shard assigns each doc its (sequence, offset) under
    // concatenate-then-chunk semantics; the oracle replays the identical
    // arithmetic and window
    "q61_pack_shards" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          graft.ops.TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.ops.Packing.packChunks(docs, "doc_id", "n_tokens",
          budget = 64L, nShards = 8, seed = 42L)
        .select(col("doc_id"), col("key"), col("shard"), col("seq_id"),
          col("seq_off"), col("straddles"), col("n_tokens"))
        .orderBy("doc_id")
    })
  )

  /** Shared oracle prefix (stages 1-5): closed-form crawl → admission →
    * quality → exact url dedup, ending at the `ek` CTE. */
  private def crawlEkSql: String = {
    val words = WebPages.Words.map(w => s"'$w'").mkString("[", ",", "]")
    s"""base AS (SELECT range AS pid, range % 150 AS m FROM range(600)),
       txt AS (SELECT pid, m,
         'intro ' || ($words)[CAST(m % 17 + 1 AS INTEGER)] AS para1,
         CASE WHEN m % 13 = 0 THEN 'the'
              WHEN m % 10 = 0 THEN 'doc ' || m::VARCHAR || ' query data query query'
              ELSE 'doc ' || m::VARCHAR || ' body ' ||
                   ($words)[CAST(m % 8 + 1 AS INTEGER)] || ' the data' END AS para2,
         'contact user' || m::VARCHAR || '@mail.example.com' AS para3
       FROM base),
       doc AS (SELECT pid, m,
         para1 || ' | ' || para2 || ' | ' || para3 AS text,
         'http://site' || (m % 5)::VARCHAR || '.com/p/' || m::VARCHAR AS canon_url,
         '/p/' || m::VARCHAR AS path FROM txt),
       admitted AS (SELECT * FROM doc WHERE path NOT LIKE '/p/12%'),
       qual AS (SELECT * FROM (SELECT *,
           (length(text) - length(replace(text, 'the', ''))) // 3 AS c_en,
           (length(text) - length(replace(text, 'query', ''))) // 5 AS c_q,
           (length(text) - length(replace(text, 'data', ''))) // 4 AS c_d
         FROM admitted)
         WHERE len(string_split(text, ' ')) >= 8
           AND c_en >= c_q AND c_en >= c_d),
       exact AS (SELECT canon_url, min(pid) AS pid, count(*) AS n_dupes
         FROM qual GROUP BY canon_url),
       ek AS (SELECT q.*, e.n_dupes FROM qual q
         JOIN exact e ON q.pid = e.pid)"""
  }

  /** Shared oracle suffix (stages 7-9): PII redaction over `ek` restricted
    * to the keeper CTE `keeperCte` (must expose a `pid` column), paragraph
    * dedup, split, final corpus row. */
  private def corpusTailSql(keeperCte: String): String =
    s"""red AS (SELECT ek.pid, ek.canon_url, ek.n_dupes,
         regexp_replace(regexp_replace(regexp_replace(ek.text,
           '[A-Za-z0-9._-]+@[A-Za-z0-9-]+(\\.[A-Za-z0-9-]+)+', '<EMAIL>', 'g'),
           '([0-9]{1,3}\\.){3}[0-9]{1,3}', '<IP>', 'g'),
           '\\+[0-9]{1,3}([ -][0-9]{2,4}){1,3}', '<PHONE>', 'g')
           AS rtext,
         len(regexp_extract_all(ek.text,
           '[A-Za-z0-9._-]+@[A-Za-z0-9-]+(\\.[A-Za-z0-9-]+)+')) AS n_email
         FROM ek JOIN $keeperCte ON ek.pid = $keeperCte.pid),
       px AS (SELECT pid, parts, unnest(range(len(parts))) AS pos FROM
         (SELECT pid, string_split(rtext, ' | ') AS parts FROM red)),
       paras AS (SELECT pid, pos, parts[CAST(pos + 1 AS INTEGER)] AS para FROM px),
       kept AS (SELECT pid, pos, para FROM (
           SELECT pid, pos, para,
             row_number() OVER (PARTITION BY para ORDER BY pid, pos) AS rn
           FROM paras) WHERE rn = 1),
       agg AS (SELECT pid, count(*) AS n_kept,
           string_agg(para, ' | ' ORDER BY pos) AS clean_text
         FROM kept GROUP BY pid)
       SELECT r.pid AS doc_id, r.canon_url,
         COALESCE(a.clean_text, '') AS clean_text,
         CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
         CAST(r.n_dupes AS BIGINT) AS n_dupes,
         CAST(r.n_email AS BIGINT) AS n_email,
         CASE WHEN r.pid % 10 < 8 THEN 'train' ELSE 'val' END AS split
       FROM red r LEFT JOIN agg a ON r.pid = a.pid ORDER BY doc_id"""

  val oracleSql: Map[String, String] = {
    Map(
      "q58_crawl_corpus" ->
        s"""WITH $crawlEkSql,
           near AS (SELECT min(pid) AS pid FROM
             (SELECT pid, regexp_replace(text, '[0-9]', '', 'g') AS norm FROM ek)
             GROUP BY norm),
           ${corpusTailSql("near")}""",
      "q67_crawl_corpus_lsh" ->
        s"""WITH RECURSIVE $crawlEkSql,
           toks AS (SELECT DISTINCT pid, token FROM
             (SELECT pid, unnest(string_split(text, ' ')) AS token FROM ek)),
           voc AS (SELECT token,
               CAST(row_number() OVER (ORDER BY token) - 1 AS BIGINT) AS vid
             FROM (SELECT DISTINCT token FROM toks)),
           tv AS (SELECT pid, vid FROM toks JOIN voc USING(token)),
           mh AS (SELECT pid, j,
               min(((vid+1)*(2654435761 + 2*j) + j*7919) % 2147483647) AS mh
             FROM tv, unnest(generate_series(0,7)) AS g(j) GROUP BY 1, 2),
           bk AS (SELECT pid, j//2 AS band,
               min(CASE WHEN j%2=0 THEN mh END) * 2147483647 +
               min(CASE WHEN j%2=1 THEN mh END) AS bandkey
             FROM mh GROUP BY pid, j//2),
           cpairs AS (SELECT b1.pid AS a, b2.pid AS b FROM bk b1 JOIN bk b2
             ON b1.band = b2.band AND b1.bandkey = b2.bandkey AND b1.pid < b2.pid
             GROUP BY 1, 2),
           edges AS (SELECT a, b FROM cpairs UNION SELECT b, a FROM cpairs),
           reach(id, r) AS (
             SELECT a AS id, a AS r FROM edges
             UNION
             SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b),
           comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
           keep AS (SELECT ek.pid FROM ek LEFT JOIN comp c ON c.id = ek.pid
             WHERE coalesce(c.component, ek.pid) = ek.pid),
           ${corpusTailSql("keep")}""",
      "q61_pack_shards" -> {
        val ring = 1L << 56
        val c = (42L * 7919L + 12345L) % ring
        s"""WITH d AS (SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             FROM documents),
           k AS (SELECT doc_id, n_tokens,
             ((doc_id * 2654435761 + $c) % $ring) AS k1 FROM d),
           k2 AS (SELECT doc_id, n_tokens,
             (k1 * 31 + 7) % $ring AS key FROM k),
           s AS (SELECT doc_id, n_tokens, key, key % 8 AS shard FROM k2),
           c AS (SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY shard
               ORDER BY key, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
             FROM s)
           SELECT doc_id, key, CAST(shard AS BIGINT) AS shard,
             CAST((cum - n_tokens) // 64 AS BIGINT) AS seq_id,
             CAST((cum - n_tokens) - ((cum - n_tokens) // 64) * 64 AS BIGINT)
               AS seq_off,
             ((cum - 1) // 64) > ((cum - n_tokens) // 64) AS straddles,
             n_tokens
           FROM c ORDER BY doc_id"""
      }
    )
  }
}
