package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** robots.txt parsing and RFC 9309 precedence, beyond the q55 grid. */
class RobotsSpec extends SparkSpec {

  private val robots =
    """# crawl policy
      |User-agent: megabot
      |Disallow: /megabot-only
      |
      |User-agent: alpha
      |User-agent: beta
      |Disallow: /shared
      |Allow: /shared/ok
      |Crawl-delay: 5
      |
      |User-agent: *
      |Disallow: /private
      |Disallow:
      |Allow: /private/pub$
      |""".stripMargin

  test("parse picks the specific group over *, shares multi-UA blocks") {
    Robots.parse(robots, "MegaBot/2.1") shouldBe Seq(Rule("/megabot-only", false))
    Robots.parse(robots, "beta") shouldBe
      Seq(Rule("/shared", false), Rule("/shared/ok", true))
    // empty Disallow is a no-op; comments are stripped
    Robots.parse(robots, "unknown-bot") shouldBe
      Seq(Rule("/private", false), Rule("/private/pub$", true))
    Robots.parse("# nothing here", "anybot") shouldBe Seq.empty
  }

  private def Rule(p: String, a: Boolean) = Robots.Rule(p, a)

  test("parse picks the LONGEST matching token group, token-boundary only") {
    val txt =
      """User-agent: googlebot
        |Disallow: /generic
        |
        |User-agent: googlebot-images
        |Disallow: /images
        |
        |User-agent: bot
        |Disallow: /everything
        |""".stripMargin
    // most specific (longest token) wins, not first-in-file
    Robots.parse(txt, "googlebot-images") shouldBe Seq(Rule("/images", false))
    Robots.parse(txt, "Googlebot/2.1") shouldBe Seq(Rule("/generic", false))
    // "bot" matches only at a token boundary: yes for "bot-crawler",
    // no for "superbot" (substring) — and with no * group, no rules apply
    Robots.parse(txt, "bot-crawler/1.0") shouldBe Seq(Rule("/everything", false))
    Robots.parse(txt, "superbot") shouldBe Seq.empty
  }

  test("rules from ALL groups matching the winning token are combined") {
    // RFC 9309 §2.2.1: real robots.txt files repeat `User-agent: *` (or
    // the same bot) across several groups; every matching group's rules
    // apply, concatenated in file order
    val txt =
      """User-agent: *
        |Disallow: /a
        |
        |User-agent: googlebot
        |Disallow: /g1
        |Crawl-delay: 2
        |
        |User-agent: *
        |Disallow: /b
        |
        |User-agent: googlebot
        |Disallow: /g2
        |Crawl-delay: 7
        |""".stripMargin
    Robots.parse(txt, "anybot") shouldBe Seq(Rule("/a", false), Rule("/b", false))
    Robots.parse(txt, "googlebot") shouldBe
      Seq(Rule("/g1", false), Rule("/g2", false))
    // a longer-token group is NOT merged into a shorter winner
    val longer = txt + "\nUser-agent: googlebot-images\nDisallow: /img\n"
    Robots.parse(longer, "googlebot-images") shouldBe Seq(Rule("/img", false))
    Robots.parse(longer, "googlebot") shouldBe
      Seq(Rule("/g1", false), Rule("/g2", false))
  }

  test("toLike escapes LIKE metacharacters and anchors $") {
    RefTwins.toLike("/a*b") shouldBe "/a%b%"
    RefTwins.toLike("/exact$") shouldBe "/exact"
    RefTwins.toLike("/100%_x") shouldBe "/100\\%\\_x%"
  }

  test("evaluate: precedence, wildcards, anchors, rule-less hosts") {
    import spark.implicits._
    val rules = Seq(
      ("h1", "/private", false),
      ("h1", "/private/ok", true),
      ("h1", "/w*card", false),
      ("h1", "/end$", false)
    ).toDF("host", "pattern", "allow")
    val urls = Seq(
      (1L, "h1", "/private/secret"), // blocked by /private
      (2L, "h1", "/private/ok/page"), // longer allow wins
      (3L, "h1", "/wildANDcard/x"), // wildcard disallow
      (4L, "h1", "/end"), // anchored disallow
      (5L, "h1", "/end/more"), // anchor must NOT match
      (6L, "h1", "/elsewhere"), // no rule matches
      (7L, "h2", "/private/secret") // host without rules
    ).toDF("id", "host", "path")
    val got = Robots.evaluate(urls, rules, "id")
      .orderBy("id").collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    got shouldBe Map(1L -> false, 2L -> true, 3L -> false, 4L -> false,
      5L -> true, 6L -> true, 7L -> true)
  }

  test("evaluate escapes LIKE metacharacters in raw robots patterns") {
    import spark.implicits._
    val rules = Seq(
      ("h1", "/q%22s", false),      // literal % (percent-encoded path)
      ("h1", "/under_score$", false), // literal _ plus anchor
      ("h1", "/back\\slash", false) // literal backslash
    ).toDF("host", "pattern", "allow")
    val urls = Seq(
      (1L, "h1", "/q%22secret"),   // literal prefix match → blocked
      (2L, "h1", "/qX22s"),        // unescaped '%' would match this → allowed
      (3L, "h1", "/under_score"),  // blocked
      (4L, "h1", "/underXscore"),  // unescaped '_' would match this → allowed
      (5L, "h1", "/back\\slash/x") // blocked
    ).toDF("id", "host", "path")
    val got = Robots.evaluate(urls, rules, "id")
      .orderBy("id").collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    got shouldBe Map(1L -> false, 2L -> true, 3L -> false, 4L -> true,
      5L -> false)
  }

  test("parse → evaluate round trip over a real-shaped robots file") {
    import spark.implicits._
    val parsed = Robots.parse(robots, "anybot")
    val rules = parsed.map(r => ("example.com", r.pattern, r.allow))
      .toDF("host", "pattern", "allow")
    val urls = Seq(
      (1L, "example.com", "/private/x"),
      (2L, "example.com", "/private/pub"),
      (3L, "example.com", "/private/pub/deeper"),
      (4L, "example.com", "/open")
    ).toDF("id", "host", "path")
    val got = Robots.evaluate(urls, rules, "id")
      .orderBy("id").collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    // /private/pub$ is anchored: allows exactly /private/pub, not deeper
    got shouldBe Map(1L -> false, 2L -> true, 3L -> false, 4L -> true)
  }
}
