package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** robots.txt evaluation (public spec: RFC 9309 + the Googlebot extension
  * set) — the admission filter every crawl-derived training pipeline runs
  * before a URL is fetched or kept. Parsing happens per robots payload in
  * plain Scala (one robots.txt per host — driver-free, partition-local);
  * EVALUATION is relational: rules join URLs on host and the RFC 9309
  * precedence — longest matching pattern wins, allow wins length ties —
  * is one `max(struct(...))` aggregation, so admission control over 10^12
  * URLs is a broadcast-or-shuffle join plus a hash-agg, nothing per-URL
  * beyond a LIKE match.
  *
  * Pattern language: literal path prefixes with `*` wildcards and an
  * optional `$` end anchor, compiled to SQL LIKE (`%`/`_`/`\` escaped) so
  * the same rule rows evaluate identically in Spark and in the DuckDB
  * oracle. */
object Robots {

  final case class Rule(pattern: String, allow: Boolean)

  private final case class Group(agents: Seq[String], rules: Seq[Rule])

  /** One pass over the file into UA groups (RFC 9309: consecutive
    * User-agent lines share the rule block that follows; comments and
    * unknown directives are skipped; empty patterns are ignored — an
    * empty Disallow allows everything). */
  private def scanGroups(robotsTxt: String): Vector[Group] = {
    val groups = Vector.newBuilder[Group]
    var agents = Vector.empty[String]
    var rules = Vector.empty[Rule]
    var inRules = false
    def flush(): Unit = {
      if (agents.nonEmpty) groups += Group(agents, rules)
      agents = Vector.empty; rules = Vector.empty; inRules = false
    }
    robotsTxt.linesIterator.foreach { raw =>
      val line = raw.takeWhile(_ != '#').trim
      val i = line.indexOf(':')
      if (i > 0) {
        val key = line.substring(0, i).trim.toLowerCase
        val value = line.substring(i + 1).trim
        key match {
          case "user-agent" =>
            if (inRules) flush()
            agents :+= value.toLowerCase
          case "allow" | "disallow" =>
            inRules = true
            if (value.nonEmpty) rules :+= Rule(value, key == "allow")
          case _ => inRules = true // crawl-delay, sitemap, unknown, ... end the UA run
        }
      }
    }
    flush()
    groups.result()
  }

  /** RFC 9309 §2.2.1 group selection: the crawler obeys the MOST SPECIFIC
    * matching group — the one whose product token is the longest match for
    * its user-agent. A token matches when it equals the UA or is a prefix
    * ending at a token boundary ("googlebot" matches "googlebot-images";
    * "bot" does NOT match "googlebot"). Per §2.2.1, rules from ALL groups
    * that match with the winning token MUST be combined — real robots.txt
    * files routinely repeat `User-agent: *` (or the same bot) across
    * several groups — so every group whose best matching token has the
    * winning length is merged, rules concatenated in file order; same for
    * the `*` fallback. */
  private def selectRules(all: Vector[Group], userAgent: String): Seq[Rule] = {
    val ua = userAgent.toLowerCase
    def tokenMatch(a: String): Boolean =
      a != "*" && (ua == a ||
        (ua.startsWith(a) && !ua.charAt(a.length).isLetterOrDigit))
    val best = all.flatMap { g =>
      g.agents.filter(tokenMatch).map(_.length).maxOption.map(g -> _)
    }
    val winners: Vector[Group] =
      if (best.nonEmpty) {
        val maxLen = best.map(_._2).max
        best.collect { case (g, l) if l == maxLen => g }
      } else all.filter(_.agents.contains("*"))
    winners.flatMap(_.rules)
  }

  /** Rules of the groups [[selectRules]] picks for `userAgent`, in file
    * order. */
  def parse(robotsTxt: String, userAgent: String = "*"): Seq[Rule] =
    selectRules(scanGroups(robotsTxt), userAgent)

  /** rules: (host, pattern, allow) with robots-SYNTAX patterns; urls must
    * carry (host, path) plus `idCol`. Adds `allowed` under RFC 9309
    * precedence (longest matching pattern wins, allow wins length ties);
    * URLs with no matching rule — or no rules for the host — are allowed.
    * The robots→LIKE translation (`*`→`%`, trailing `$` anchor, LIKE
    * metacharacters `%`/`_`/`\` escaped with `\` — percent-encoded paths
    * like `/search?q=%22` are common in real robots.txt) runs as column
    * expressions, so the same rule rows evaluate
    * identically in Spark and in the DuckDB oracle (which must spell the
    * match `LIKE ... ESCAPE '\'` — DuckDB has no default escape char). */
  /** `carryCols` (round 6): extra url-side columns carried through the
    * admission aggregation via `first(...)` — every rule-joined copy of a
    * url row carries the same values, so `first` is deterministic. Lets a
    * caller that needs the full page row back avoid re-joining the result
    * onto its own input (which duplicates the whole upstream subtree
    * under both join sides — the round-5 crawl pipeline parsed its WARC
    * source twice that way). */
  def evaluate(urls: DataFrame, rules: DataFrame, idCol: String,
               carryCols: Seq[String] = Nil): DataFrame = {
    // strip the trailing anchor, escape \ then % then _, THEN *->%, so
    // inserted escapes are never re-escaped
    val translated = regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(col("pattern"), "\\$$", ""),
            "\\\\", "\\\\\\\\"),
          "%", "\\\\%"),
        "_", "\\\\_"),
      "\\*", "%")
    val r = rules.select(col("host"), col("pattern"),
        col("allow").cast("boolean").as("allow"))
      .withColumn("plen", length(col("pattern")))
      .withColumn("lk", when(col("pattern").endsWith("$"), translated)
        .otherwise(concat(translated, lit("%"))))
    val aggs = Seq(first(col("path")).as("path")) ++
      carryCols.map(c => first(col(c)).as(c)) :+
      max(when(col("m"),
        struct(col("plen"), col("allow").cast("int").as("a")))).as("best")
    urls.join(r, Seq("host"), "left")
      .withColumn("m", expr("path like lk"))
      .groupBy(idCol)
      .agg(first(col("host")).as("host"), aggs: _*)
      .withColumn("allowed", coalesce(col("best.a") === 1, lit(true)))
      .drop("best")
  }
}
