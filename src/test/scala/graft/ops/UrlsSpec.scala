package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** URL canonicalization rules (RFC 3986 §6 syntax normalization + crawl
  * extras) on hand-picked edges beyond the q49 fixture grid. */
class UrlsSpec extends SparkSpec {

  private def canon(urls: String*): Seq[String] = {
    import spark.implicits._
    urls.toDF("url").select(Urls.canonicalize(col("url"))).collect().map(_.getString(0)).toSeq
  }

  private def domain(hosts: String*): Seq[String] = {
    import spark.implicits._
    hosts.toDF("h").select(Urls.registeredDomain(col("h"))).collect().map(_.getString(0)).toSeq
  }

  test("scheme and host lowercase; path case preserved") {
    canon("HTTPS://WWW.Example.COM/Path/To?x=1") shouldBe
      Seq("https://www.example.com/Path/To?x=1")
  }

  test("default ports drop, non-default and cross-scheme ports stay") {
    canon(
      "http://a.com:80/x", "https://a.com:443/x",
      "https://a.com:80/x", "http://a.com:8080/x") shouldBe Seq(
      "http://a.com/x", "https://a.com/x",
      "https://a.com:80/x", "http://a.com:8080/x")
  }

  test("fragment stripped, empty path becomes /") {
    canon("http://a.com#frag", "http://a.com?b=2#frag") shouldBe
      Seq("http://a.com/", "http://a.com/?b=2")
  }

  test("query params sort bytewise and utm_* noise drops") {
    canon(
      "http://a.com/p?zz=1&aa=2&utm_source=news&utm_campaign=x",
      "http://a.com/p?utm_source=only") shouldBe Seq(
      "http://a.com/p?aa=2&zz=1",
      "http://a.com/p")
  }

  test("trailing host dot strips; empty query segments drop") {
    canon("http://A.com./p?&a=1&&b=2&") shouldBe Seq("http://a.com/p?a=1&b=2")
  }

  test("registered domain: eTLD+1 under the bundled public-suffix snapshot") {
    domain("www.site.co.uk", "a.b.site.com", "site.com", "localhost",
      "deep.www.gov.au") shouldBe
      Seq("site.co.uk", "site.com", "site.com", "localhost", "www.gov.au")
  }

  test("registered domain: PSL private suffixes, wildcards, exceptions") {
    // private-section suffixes: each subdomain is its own registrant
    domain("alice.github.io", "www.alice.github.io", "b.blogspot.com",
      "bucket.s3.amazonaws.com") shouldBe
      Seq("alice.github.io", "alice.github.io", "b.blogspot.com",
        "bucket.s3.amazonaws.com")
    // country registries the old 7-label heuristic could not know
    domain("shop.example.com.au", "www.parliament.gov.uk", "x.ac.jp") shouldBe
      Seq("example.com.au", "parliament.gov.uk", "x.ac.jp")
    // wildcard rule *.ck (every 2nd-level label is a registry) with the
    // !www.ck exception (www.ck is itself registrable)
    domain("shop.foo.ck", "www.ck", "sub.www.ck") shouldBe
      Seq("shop.foo.ck", "www.ck", "www.ck")
    // default rule: unknown TLD is its own suffix; IPv4 passes through
    domain("a.b.unknowntld", "10.0.0.1") shouldBe
      Seq("b.unknowntld", "10.0.0.1")
  }

  test("registered domain: expanded snapshot — deep rules, regional private suffixes") {
    // 4-label exact rules (Azure blob storage, Fastly shared certs)
    domain("acct.blob.core.windows.net", "x.acct.blob.core.windows.net",
      "site.global.ssl.fastly.net") shouldBe
      Seq("acct.blob.core.windows.net", "acct.blob.core.windows.net",
        "site.global.ssl.fastly.net")
    // deep wildcard: *.compute.amazonaws.com — the REGION label is the
    // wildcard, each EC2 hostname under it is its own registrant
    domain("ec2-1-2-3-4.us-west-2.compute.amazonaws.com") shouldBe
      Seq("ec2-1-2-3-4.us-west-2.compute.amazonaws.com")
    // regional Blogger registrations group per blog, not per ccTLD
    domain("myblog.blogspot.co.uk", "www.myblog.blogspot.in") shouldBe
      Seq("myblog.blogspot.co.uk", "myblog.blogspot.in")
    // Japanese designated-city wildcard with the !city exception
    domain("shop.ward.kawasaki.jp", "www.city.kawasaki.jp") shouldBe
      Seq("shop.ward.kawasaki.jp", "city.kawasaki.jp")
    // US state and JP prefecture registries; dynamic-DNS private suffix
    domain("www.school.ca.us", "site.tokyo.jp", "home.duckdns.org") shouldBe
      Seq("school.ca.us", "site.tokyo.jp", "home.duckdns.org")
  }

  test("percent-hex normalization in canonicalize only merges groups, never splits") {
    import spark.implicits._
    val urls = Seq(
      "http://a.com/p%2fx", "http://a.com/p%2Fx", // case-variant encodings → ONE group
      "http://a.com/p/x",                         // distinct url → own group
      "http://a.com/p%2gx"                        // invalid triplet → untouched, own group
    ).toDF("url")
    val groups = urls.select(Urls.canonicalize(col("url")).as("c"))
      .groupBy("c").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    groups shouldBe Map(
      "http://a.com/p%2Fx" -> 2L,
      "http://a.com/p/x" -> 1L,
      "http://a.com/p%2gx" -> 1L)
    // opt-out keeps legacy keys byte-stable
    val off = urls.select(Urls.canonicalize(col("url"), normalizePctHex = false).as("c"))
      .distinct().count()
    off shouldBe 4L
  }

  test("percent-hex normalization uppercases triplets, never decodes") {
    import spark.implicits._
    def norm(urls: String*): Seq[String] =
      urls.toDF("url").select(Urls.normalizePercentHex(col("url")))
        .collect().map(_.getString(0)).toSeq
    norm("http://a.com/p%2fq%3Ax", "no-escapes", "trailing%", "%2f",
      "bad%zz%4aok") shouldBe
      Seq("http://a.com/p%2Fq%3Ax", "no-escapes", "trailing%", "%2F",
        "bad%zz%4Aok")
    // default-ON through canonicalize (round-5 decision): groups merge;
    // the opt-out keeps legacy keys byte-stable
    Seq("http://a.com/p%2fq", "http://a.com/p%2Fq").toDF("url")
      .select(Urls.canonicalize(col("url")))
      .collect().map(_.getString(0)).distinct should have length 1
    Seq("http://a.com/p%2fq", "http://a.com/p%2Fq").toDF("url")
      .select(Urls.canonicalize(col("url"), normalizePctHex = false))
      .collect().map(_.getString(0)).distinct should have length 2
  }

  test("canonical form is idempotent") {
    val messy = Seq(
      "HTTP://A.Com.:80/x/y?b=2&a=1&utm_source=s#f",
      "https://B.ORG", "http://c.net:8080?z=0")
    val once = canon(messy: _*)
    canon(once: _*) shouldBe once
  }

  test("native registered domain is identical to the column-tower reference twin") {
    import spark.implicits._
    // one host per rule family: default rule, exact multi-label suffix,
    // wildcard, exception, exception-is-registrable, pass-throughs
    val hosts = Seq(
      "example.com", "a.b.example.co.uk", "foo.bar.kawasaki.jp",
      "city.kawasaki.jp", "x.city.kawasaki.jp", "www.ck", "a.www.ck",
      "mybucket.s3.amazonaws.com", "x.blogspot.com", "single",
      "co.uk", "192.168.0.1", "deep.a.b.c.example.org")
    // RDD-backed, so the projections run through generated code
    val df = rddBacked(hosts.toDF("h"))
    val native = df.select(Urls.registeredDomain(col("h"))).collect().map(_.getString(0))
    val ref = df.select(RefTwins.registeredDomainRef(col("h"))).collect().map(_.getString(0))
    native.toSeq shouldBe ref.toSeq
    // and across a generated corpus exercising label counts 1..6
    val gen = rddBacked((0 until 300).map { i =>
      (0 to i % 6).map(j => s"l$j").mkString(".") + (i % 3 match {
        case 0 => ".com"; case 1 => ".co.uk"; case 2 => ".kawasaki.jp" })
    }.toDF("h"))
    val ng = gen.select(Urls.registeredDomain(col("h"))).collect().map(_.getString(0))
    val rg = gen.select(RefTwins.registeredDomainRef(col("h"))).collect().map(_.getString(0))
    ng.toSeq shouldBe rg.toSeq
  }
}
