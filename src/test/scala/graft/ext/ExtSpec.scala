package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("tokenStats computes counts and ratios") {
    val df = Seq((1L, "a bb ccc a")).toDF("doc_id", "text")
    val r = TextAnalysis.tokenStats(df).collect()(0)
    assert(r.getAs[Long]("n_tokens") == 4)
    assert(r.getAs[Long]("n_distinct") == 3)
    assert(r.getAs[Double]("avg_token_len") == 7.0 / 4)
    assert(r.getAs[Double]("type_token_ratio") == 0.75)
  }

  test("charNgramLangId: separable languages classify correctly; short docs absent") {
    val d = Seq(
      (1L, "the cat and the dog and the", "en"),
      (2L, "the dog and the cat and the", "en"),
      (3L, "der hund und die katze und", "de"),
      (4L, "die katze und der hund und", "de"),
      (5L, "the cat und the dog and the", "en"), // mixed, mostly en
      (6L, "xy", "en")                            // too short for trigrams
    ).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.charNgramLangId(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("lang_pred"), r.getAs[Boolean]("correct"))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(Seq(1L, 2L, 5L).forall(out(_)._1 == "en"))
    assert(Seq(3L, 4L).forall(out(_)._1 == "de"))
    assert(out.values.forall(_._2))
  }

  test("compressibility: repetitive text collapses, diverse text scores high; exact n*H") {
    val d = Seq(
      (1L, "abababababababab"),  // 15 bigrams: ab x8, ba x7
      (2L, "abcdefghijklmnop"),  // 15 distinct bigrams: H = ln 15
      (3L, "x")                  // too short — absent
    ).toDF("doc_id", "text")
    val out = TextAnalysis.compressibility(d)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("score"))).toMap
    assert(!out.contains(3L))
    assert(out(1L)._1 == 15L && out(2L)._1 == 15L)
    def r9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    // doc1: 8*ln(15/8) + 7*ln(15/7); doc2: 15*ln(15) — the exact
    // decimal n·H, emitted as its (unique) nearest double
    assert(out(1L)._2 == (r9(math.log(15.0 / 8)) * 8 + r9(math.log(15.0 / 7)) * 7).toDouble)
    assert(out(2L)._2 == (r9(math.log(15.0)) * 15).toDouble)
    assert(out(1L)._2 < out(2L)._2)
  }

  test("cardScan: Luhn separates valid cards from digit noise; runs extracted on word boundaries") {
    val d = Seq(
      (1L, "pay with 4532015112830366 thanks"),            // known valid
      (2L, "ref 4532015112830367 and 1234567890123456"),   // both invalid
      (3L, "short 123456789012 too-short digits"),         // 12 digits: not a candidate
      (4L, "glued abc4532015112830366def no boundary")     // no word boundary
    ).toDF("doc_id", "text")
    val out = TextAnalysis.cardScan(d)
      .as[(Long, String, Boolean)].collect()
    val byDoc = out.groupBy(_._1)
    assert(byDoc(1L).toSeq == Seq((1L, "4532015112830366", true)))
    assert(byDoc(2L).map(c => c._2 -> c._3).toMap ==
      Map("4532015112830367" -> false, "1234567890123456" -> false))
    assert(!byDoc.contains(3L) && !byDoc.contains(4L))
  }

  test("secretScan: entropy score is n*H exactly; structural tells fire; short tokens absent") {
    val d = Seq(
      (1L, "hello aK9xQz2mPw4rT7vB deadbeefcafe1234 QUJDRDEyMzQ1Njc4OTA= aaaaaaaaaaaaaaaa"),
      (2L, "short toks only")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.secretScan(d, minLen = 16, entropyPerChar = 2.5)
      .collect().map(r => r.getAs[String]("token") -> r).toMap
    assert(!out.contains("hello") && !out.contains("short"))
    // 16 distinct chars: score = 16 * round(ln 16, 9); below the 2.5 bar
    val mixed = out("aK9xQz2mPw4rT7vB")
    val ln16 = BigDecimal(math.log(16.0)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    assert(mixed.getAs[Double]("score") == (ln16 * 16).toDouble)
    assert(mixed.getAs[Boolean]("high_entropy")) // ln 16 ≈ 2.773 > 2.5
    val uniform = out("aaaaaaaaaaaaaaaa") // one char: H = 0
    assert(uniform.getAs[Double]("score") == 0.0)
    assert(!uniform.getAs[Boolean]("high_entropy"))
    assert(out("deadbeefcafe1234").getAs[Boolean]("looks_hex"))
    assert(!out("deadbeefcafe1234").getAs[Boolean]("high_entropy")) // 11 distinct
    assert(out("QUJDRDEyMzQ1Njc4OTA=").getAs[Boolean]("looks_b64"))
    assert(!out("aK9xQz2mPw4rT7vB").getAs[Boolean]("looks_hex"))
  }

  test("cdxjParse: surt/ts split, json fields, numeric try_cast, junk " +
    "lines keep null-field rows, blank lines dropped") {
    val text = "com,ex)/a 20260101120000 {\"url\":\"https://ex.com/a\"," +
      "\"status\":\"200\",\"mime\":\"text/html\",\"length\":\"10\"," +
      "\"offset\":\"0\",\"filename\":\"f.warc.gz\"}\n\n" +
      "com,ex)/b 20260101120001 {\"url\":\"https://ex.com/b\"," +
      "\"status\":\"redirect\"}\n" +
      "no-json-here"
    val rows = TextAnalysis.cdxjParse(Seq((1L, text)).toDF("doc_id", "text"))
      .orderBy("pos").collect()
    assert(rows.length == 3)
    assert(rows(0).getString(2) == "com,ex)/a" &&
      rows(0).getString(3) == "20260101120000" &&
      rows(0).getInt(5) == 200 && rows(0).getLong(8) == 10L)
    // non-numeric status: try_cast null, url still present
    assert(rows(1).getString(4) == "https://ex.com/b" && rows(1).isNullAt(5))
    assert(rows(2).isNullAt(2) && rows(2).isNullAt(4))
  }

  test("sqliteMeta: header facts at fixed offsets; raw page size 1 means " +
    "65536; non-sqlite payloads null") {
    def hdr(pageHex: String, encBe32: String): Array[Byte] = {
      val h = "53514C69746520666F726D6174203300" + pageHex +
        "010100402020" + "00000000" + "0000002A" + "0" * 48 +
        encBe32 + "00000005" + "0" * 64 + "002E7689"
      h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    }
    val rows = Seq(
      (1L, hdr("1000", "00000001")),
      (2L, hdr("0001", "00000002")),
      (3L, "not a database".getBytes)).toDF("doc_id", "payload")
      .select(col("doc_id"),
        graft.ext.Multimodal.sqliteMeta(col("payload")).as("m"))
      .orderBy("doc_id").collect()
    val m1 = rows(0).getStruct(1)
    assert(m1.getInt(0) == 4096 && m1.getLong(1) == 42L &&
      m1.getString(2) == "utf8" && m1.getInt(3) == 5 &&
      m1.getInt(4) == 3045001)
    assert(rows(1).getStruct(1).getInt(0) == 65536)
    assert(rows(1).getStruct(1).getString(2) == "utf16le")
    assert(rows(2).isNullAt(1))
  }

  test("wikiDumpPages: page explode with dump order, entity-decoded " +
    "title/text, the page's own id (not the revision's), redirect target") {
    val xml = "<mediawiki><page><title>A &amp; B</title><ns>0</ns>" +
      "<id>42</id><revision><id>900</id>" +
      "<text xml:space=\"preserve\">Body &lt;tag&gt; here</text>" +
      "</revision></page>" +
      "<page><title>R</title><ns>0</ns><id>43</id>" +
      "<redirect title=\"A &amp; B\"/><revision><id>901</id>" +
      "<text>#REDIRECT [[A &amp; B]]</text></revision></page>" +
      "<page><title>NoNs</title><id>44</id><revision><id>902</id>" +
      "</revision></page></mediawiki>"
    val rows = TextAnalysis.wikiDumpPages(
        Seq((1L, xml)).toDF("doc_id", "xml"))
      .orderBy("pos").collect()
    assert(rows.length == 3)
    assert(rows(0).getString(2) == "A & B" && rows(0).getInt(3) == 0 &&
      rows(0).getLong(4) == 42L && rows(0).isNullAt(5) &&
      rows(0).getString(6) == "Body <tag> here")
    assert(rows(1).getString(2) == "R" && rows(1).getLong(4) == 43L &&
      rows(1).getString(5) == "A & B")
    // missing ns and text: null fields, row kept; id still the first id
    assert(rows(2).getString(2) == "NoNs" && rows(2).isNullAt(3) &&
      rows(2).getLong(4) == 44L && rows(2).isNullAt(6))
  }

  test("wikitextClean: refs, templates, tables, links, headings, emphasis, " +
    "list markers; nesting bound pinned both ways") {
    val d = Seq(
      (1L, "'''Bold''' and ''italic'' text."),
      (2L, "See [[Target]] and [[Page|the label]] and " +
        "[[File:x.png|thumb|caption text]]."),
      (3L, "Cited<ref name=\"a\">{{cite web|url=x}}</ref> and " +
        "self-closed<ref name=\"b\"/> done."),
      (4L, "A {{tmpl|k={{inner|v}}}} B"),
      (5L, "== Head ==\n* one\n# two\n: indent\nTail"),
      (6L, "Row {| class=\"w\"\n|-\n| c1 || c2\n|} after"),
      (7L, "Ext [http://e.com/x label here] and bare [http://e.com/y]."),
      // nesting bound: depth 4 resolves, depth 5 leaves outer braces
      (8L, "D4 {{a|{{b|{{c|{{d}}}}}}}} ok"),
      (9L, "D5 {{a|{{b|{{c|{{d|{{e}}}}}}}}}} left"),
      // comments vanish FIRST — braces inside cannot poison the
      // template loop (this unbalanced {{ would otherwise pin {{x}})
      (10L, "A<!-- {{unbalanced {| junk -->B {{x}} C"),
      (11L, "multi<!-- line\ncomment -->survives"),
      // nowiki bodies stay LITERAL even when they are wiki markup;
      // self-closing <nowiki/> just drops
      (12L, "Keep <nowiki>{{tmpl|arg}}</nowiki> and <nowiki>''raw''" +
        "</nowiki> done<nowiki/>."),
      // a template WRAPPING a nowiki keeps its outer markup
      // unresolved rather than deleting the literal body
      (13L, "T {{outer|<nowiki>|pipe|</nowiki>}} end")
    ).toDF("doc_id", "text")
    val out = d.select(col("doc_id"),
        TextAnalysis.wikitextClean(col("text")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "Bold and italic text.")
    assert(out(2L) == "See Target and the label and caption text.")
    assert(out(3L) == "Cited and self-closed done.")
    assert(out(4L) == "A B")
    assert(out(5L) == "Head\none\ntwo\nindent\nTail")
    assert(out(6L) == "Row after")
    assert(out(7L) == "Ext label here and bare .")
    assert(out(8L) == "D4 ok")
    assert(out(9L) == "D5 {{a|}} left",
      "depth-5 nesting leaves the outermost template unresolved by contract")
    assert(out(10L) == "AB C", "comment braces must not pin {{x}}")
    assert(out(11L) == "multisurvives")
    assert(out(12L) == "Keep {{tmpl|arg}} and ''raw'' done.")
    assert(out(13L) == "T {{outer||pipe|}} end",
      "a span wrapping a literal body stays unresolved, never deleted")
  }

  test("htmlToText: script/style content dropped, tags become boundaries, " +
    "entities decode amp-last, whitespace collapses") {
    val d = Seq(
      (1L, "<p>Hello</p><p>world</p>"),
      (2L, "<style>p{x:1}</style>before<script a=\"b\">var s='<p>';</script>after"),
      (3L, "a &amp;lt; b &lt;c&gt; &quot;d&quot; &#39;e&#39;&nbsp;f"),
      (4L, "plain text, no markup"),
      (5L, "<div   class='x'>  spaced   </div>  out ")
    ).toDF("doc_id", "text")
    val out = d.select(col("doc_id"),
        TextAnalysis.htmlToText(col("text")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "Hello world", "adjacent block tags must keep a boundary")
    assert(out(2L) == "before after", "script/style content is not prose")
    // &amp;lt; -> literal "&lt;" (single-pass, amp LAST)
    assert(out(3L) == "a &lt; b <c> \"d\" 'e' f")
    assert(out(4L) == "plain text, no markup")
    assert(out(5L) == "spaced out")
  }

  test("urlNormalize/urlDomain: case, default ports, fragments, utm params " +
    "and trailing slashes normalize; non-URLs pass through") {
    val d = Seq(
      (1L, "HTTPS://WWW.Example.COM:443/A/B/?utm_source=x&id=7#frag"),
      (2L, "http://site.org:80/"),
      (3L, "https://x.io/path?utm_a=1&utm_b=2"),
      (4L, "ftp://Files.Net:2121/dir/file.txt"),
      (5L, "not a url at all")
    ).toDF("doc_id", "u")
    val out = d.select(col("doc_id"),
        TextAnalysis.urlNormalize(col("u")).as("n"),
        TextAnalysis.urlDomain(col("u")).as("dom"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), Option(r.getString(2)))).toMap
    assert(out(1L)._1 == "https://www.example.com/A/B?id=7")
    assert(out(1L)._2.contains("www.example.com"))
    assert(out(2L)._1 == "http://site.org/", "the root slash must survive")
    assert(out(3L)._1 == "https://x.io/path", "empty query drops its '?'")
    assert(out(4L)._1 == "ftp://files.net:2121/dir/file.txt",
      "non-default ports survive")
    assert(out(5L)._1 == "not a url at all" && out(5L)._2.isEmpty)
  }

  test("domainReputation: dup burden and keep rate gate whole domains; " +
    "cap only fires for healthy oversized ones") {
    // 120 words of plain prose with stopwords: passes every gopher rule
    val good = (Seq.fill(40)("the quick dog") ).mkString(" ")
    def spam(i: Int) = s"### junk $i"      // fails word-count rule; distinct texts
    val dup = "reposted syndicated body"   // exact within-domain dup group
    val rows =
      // farm.com: 3 docs, 2 identical -> dup_rate 2/3 > 0.30 -> drop
      Seq((1L, "https://Farm.com/a", dup), (2L, "https://farm.com/b", dup),
          (3L, "https://farm.com/c", good),
      // junk.net: 2 docs, none keep -> keep_rate 0 < 0.40 -> drop
          (4L, "https://junk.net/a", spam(1)), (5L, "https://junk.net/b", spam(2)),
      // big.org: 3 healthy docs > capDocs=2 -> cap
          (6L, "https://big.org/a", good + " one"), (7L, "https://big.org/b", good + " two"),
          (8L, "https://big.org/c", good + " three"),
      // ok.io: 1 healthy doc -> keep; a non-URL groups under null
          (9L, "https://ok.io/a", good), (10L, "nonsense", good))
        .toDF("doc_id", "url", "text")
    val out = TextAnalysis.domainReputation(rows, capDocs = 2L)
      .collect().map(r => Option(r.getString(0)) ->
        (r.getLong(1), r.getLong(2), r.getString(6))).toMap
    assert(out(Some("farm.com")) == ((3L, 2L, "drop")))
    assert(out(Some("junk.net")) == ((2L, 0L, "drop")))
    assert(out(Some("big.org")) == ((3L, 0L, "cap")))
    assert(out(Some("ok.io")) == ((1L, 0L, "keep")))
    assert(out(None) == ((1L, 0L, "keep")), "non-URLs roll up under null domain")
  }

  test("repetitionSignals: exact dup fractions at line and paragraph " +
    "grain; top-n char fractions with lexicographic tie-break") {
    val rows = Seq(
      (1L, "a b\na b\n\nP\n\nP"),   // dup line + dup paragraph
      (2L, "x y.")                   // single line, no repetition
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(rows).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getLong(1) == 4L && r1.getDouble(2) == 0.5)      // lines
    assert(r1.getDouble(3) == 0.5)                             // dup line chars
    assert(r1.getLong(4) == 3L && r1.getDouble(5) == 1.0 / 3)  // paras
    assert(r1.getDouble(6) == 1.0 / 9)
    // Gopher words are WHITESPACE-split: ["a","b","a","b","P","P"],
    // len(text)=13; "a b" occurs twice (2*3/13); 3/4-grams all unique
    // -> lexicographically smallest gram wins ("a b P" 5 chars,
    // "a b P P" 7 chars — 'P' sorts before 'a')
    assert(r1.getDouble(7) == 6.0 / 13)
    assert(r1.getDouble(8) == 5.0 / 13)
    assert(r1.getDouble(9) == 7.0 / 13)
    val r2 = out(2L)
    assert(r2.getLong(1) == 1L && r2.getDouble(2) == 0.0 && r2.getDouble(5) == 0.0)
    assert(r2.getDouble(7) == 1.0, "whole doc is its own top bigram")
    assert(r2.getDouble(8) == 0.0 && r2.getDouble(9) == 0.0, "too short for 3/4-grams")
  }

  test("robotsGate: disallow binds to the nearest user-agent above; " +
    "empty disallow, missing robots, and other sections never block") {
    val robots = Seq(
      ("a.com", "User-Agent: gptbot\nDisallow: /\n" +
                "user-agent: *\nDISALLOW: /secret\nDisallow: /x/\n" +
                "User-agent: bob\nDisallow: /open"),
      ("b.org", "User-agent: *\nDisallow:")       // explicit allow-all
    ).toDF("domain", "robots")
    val urls = Seq(
      (1L, "https://a.com/secret-page"),   // '/secret' prefix hits
      (2L, "https://a.com/x/deep/page"),
      (3L, "https://a.com/open/fine"),     // bob's rule must not leak
      (4L, "https://b.org/anything"),
      (5L, "https://nobots.net/ok"),       // no robots row
      (6L, "not a url at all")
    ).toDF("doc_id", "url")
    val out = TextAnalysis.robotsGate(urls, robots).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out == Map(1L -> false, 2L -> false, 3L -> true,
      4L -> true, 5L -> true, 6L -> true))
  }

  test("htmlToText: numeric character references decode for the BMP; " +
    "uppercase/multiline blocks drop; escaped entities stay single-pass") {
    val d = Seq(
      (1L, "it&#8217;s &#x27;q&#X6F; n&#160;b"),   // dec, hex, upper-X, nbsp
      (2L, "a &#38;lt; b &amp;#39; c"),            // escapes must NOT double-decode
      (3L, "keep &#999999; &#xD800; &#0; bad"),    // out-of-BMP, surrogate, NUL
      (4L, "x<SCRIPT>\nvar s = '<p>';\n</SCRIPT>y<STYLE a=b>\np{}\n</STYLE>z")
    ).toDF("doc_id", "text")
    val out = d.select(col("doc_id"),
        TextAnalysis.htmlToText(col("text")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "it’s 'qo n b")
    assert(out(2L) == "a &lt; b &#39; c")
    assert(out(3L) == "keep &#999999; &#xD800; &#0; bad")
    assert(out(4L) == "x y z")
  }

  test("resolveUrl: RFC 3986 merge with dot-segment removal; query-only " +
    "refs keep the base path; pseudo-scheme hrefs drop") {
    val base = "https://h.io/a/b/page.html"
    val cases = Seq(
      (1L, base, "p2.html"), (2L, base, "../up"), (3L, base, "./x/y"),
      (4L, base, "../../../deep"), (5L, base, "?q=2"), (6L, base, "c/../d"),
      (7L, base, "javascript://alert(1)"), (8L, base, "data:text/html,x"),
      (9L, base, "//cdn.z.net/f.js"), (10L, base, "/rooted/../e"),
      (11L, "https://h.io", "rel.html"),       // empty base path -> "/"
      (12L, base, "FTP://files.net/x"), (13L, base, "#only"), (14L, base, ""))
      .toDF("id", "base", "href")
    val out = cases.select(col("id"),
        TextAnalysis.resolveUrl(col("base"), col("href")).as("r"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out(1L).contains("https://h.io/a/b/p2.html"))
    assert(out(2L).contains("https://h.io/a/up"))
    assert(out(3L).contains("https://h.io/a/b/x/y"))
    assert(out(4L).contains("https://h.io/deep"), "ups past root clamp at root")
    assert(out(5L).contains("https://h.io/a/b/page.html?q=2"))
    assert(out(6L).contains("https://h.io/a/b/d"))
    assert(out(7L).isEmpty && out(8L).isEmpty, "pseudo-schemes never pass")
    assert(out(9L).contains("https://cdn.z.net/f.js"))
    assert(out(10L).contains("https://h.io/e"), "root-relative paths dedot too")
    assert(out(11L).contains("https://h.io/rel.html"))
    assert(out(12L).contains("FTP://files.net/x"), "case-insensitive whitelist")
    assert(out(13L).isEmpty && out(14L).isEmpty)
  }

  test("htmlTables: nested position indices, th header flag, cell text " +
    "stripped+decoded; pages without tables emit nothing") {
    val rows = Seq(
      (1L, "<table><TR><TH scope=\"col\"> A&amp;B </TH></TR>" +
        "<tr><td><b>bold</b> text</td><td>2</td></tr></table>" +
        "x<table><tr><td>t2</td></tr></table>"),
      (2L, "<p>tableless</p>")
    ).toDF("doc_id", "html")
    val out = TextAnalysis.htmlTables(rows).orderBy(
      "table_idx", "row_idx", "col_idx").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getString(5)))
    assert(out.toSeq == Seq(
      (0L, 0L, 0L, true, "A&B"),
      (0L, 1L, 0L, false, "bold text"),
      (0L, 1L, 1L, false, "2"),
      (1L, 0L, 0L, false, "t2")),
      "exactly doc 1's four cells — the tableless page contributes none")
  }

  test("csvFields kernel: quoted commas, double-quote escape, quotes " +
    "only special at field start, unterminated fail-open, empties kept; " +
    "SQL registration") {
    import graft.functions.CsvFields
    def fields(line: String, d: String = ","): Seq[String] =
      Seq(line).toDF("l").select(CsvFields(col("l"), lit(d)).as("f"))
        .collect()(0).getSeq[String](0)
    assert(fields("a,\"b,c\",d") == Seq("a", "b,c", "d"))
    assert(fields("\"he said \"\"hi\"\"\",x") == Seq("he said \"hi\"", "x"))
    assert(fields("a\"b,c") == Seq("a\"b", "c"))      // non-leading literal
    assert(fields("a,\"unterminated") == Seq("a", "unterminated"))
    assert(fields(",a,,") == Seq("", "a", "", ""))
    assert(fields("x|\"y|z\"", "|") == Seq("x", "y|z"))
    graft.functions.GraftExtensions.register(spark)
    val viaSql = spark.sql(
      "SELECT csv_fields('a,\"b,c\"', ',') AS f").collect()(0).getSeq[String](0)
    assert(viaSql == Seq("a", "b,c"))
  }

  test("csvSniff counts quoted fields correctly (the regex-split trap)") {
    // embedded commas inside quotes: a regex split would see 4 and 3
    // columns (inconsistent); the kernel sees 3 everywhere
    val d = Seq((1L,
      "id,name,city\n1,\"Smith, John\",berlin\n2,plain,rome")).toDF(
      "doc_id", "text")
    val out = TextAnalysis.csvSniff(d).collect()(0)
    assert(out.getString(1) == "," && out.getLong(2) == 3L &&
      out.getAs[Boolean]("has_header"))
  }

  test("csvSniff: consistency beats candidate order, header heuristic, " +
    "quoteless prose detects nothing, single line no header") {
    val d = Seq(
      (1L, "a,b,c\n1,2,3\n4,5,6"),          // comma, header
      (2L, "x|y\n1|2"),                      // pipe (escaped regex)
      (3L, "just words\nmore words"),        // nothing consistent
      (4L, "a;b;c"),                          // single line: no header
      (5L, "w,x;y\n1,2;3")                   // both , and ; consistent:
    ).toDF("doc_id", "text")                  // ; gives 2=2, , gives 2=2 ->
    val out = TextAnalysis.csvSniff(d).collect() // tie -> comma (order)
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) == "," && out(1L).getLong(2) == 3L &&
      out(1L).getAs[Boolean]("has_header"))
    assert(out(2L).getString(1) == "|" && out(2L).getLong(2) == 2L)
    assert(out(3L).isNullAt(1) && out(3L).isNullAt(2))
    assert(out(4L).getString(1) == ";" && !out(4L).getAs[Boolean]("has_header"))
    assert(out(5L).getString(1) == ",")
    assert(out(1L).getAs[Long]("n_lines_sampled") == 3L)
    // CRLF files (the RFC 4180 default) must not drag \r into fields
    val crlf = Seq((9L, "a,b\r\n1,2\r\n3,4\r\n")).toDF("doc_id", "text")
    val sn = TextAnalysis.csvSniff(crlf).collect()(0)
    assert(sn.getString(1) == "," && sn.getLong(2) == 2L &&
      sn.getAs[Boolean]("has_header"))
    val fields = TextAnalysis.csvParse(crlf, ",").collect()
      .map(_.getString(3)).toSet
    assert(fields == Set("a", "b", "1", "2", "3", "4"),
      s"no \\r residue: $fields")
  }

  test("csvTypeCensus: promotion ladder, mixed columns fall to string, " +
    "all-empty columns string, per-file dialects, headerless names null") {
    val d = Seq(
      // header file: int col, int+double col, mixed col, empty col
      (1L, "n,v,m,e\n1,2,x,\n3,4.5,9,", ",", true),
      // headerless semicolon file: bool and date columns
      (2L, "true;2026-01-01\nFALSE;2026-02-02", ";", false)
    ).toDF("doc_id", "text", "delimiter", "has_header")
    val out = TextAnalysis.csvTypeCensus(d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    def typ(id: Long, c: Long) = out((id, c)).getAs[String]("inferred_type")
    assert(typ(1L, 0L) == "bigint" && typ(1L, 1L) == "double")
    assert(typ(1L, 2L) == "string", "int+str mixes to string")
    assert(typ(1L, 3L) == "string", "all-empty falls to string")
    assert(out((1L, 0L)).getAs[String]("col_name") == "n")
    assert(out((1L, 3L)).getAs[Long]("n_empty") == 2L)
    assert(typ(2L, 0L) == "boolean" && typ(2L, 1L) == "date")
    assert(out((2L, 0L)).isNullAt(2), "headerless: no col_name")
    // and the DDL collapse, with c<idx> fallbacks
    val schemas = TextAnalysis.csvInferSchema(TextAnalysis.csvTypeCensus(d))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(schemas(1L) == "n bigint, v double, m string, e string")
    assert(schemas(2L) == "c0 boolean, c1 date")
    // the schema string round-trips through Spark's DDL parser
    val st = org.apache.spark.sql.types.StructType.fromDDL(schemas(1L))
    assert(st.fieldNames.toSeq == Seq("n", "v", "m", "e"))
  }

  test("citationScan: DOI suffix stops at whitespace/quotes with trailing " +
    "punctuation stripped, both arXiv forms, prose-only docs empty") {
    val d = Seq(
      (1L, "Per \"10.5555/j.issue(42).\" and arXiv:2301.01234v2 ok"),
      (2L, "An old one arXiv:hep-th/9901001, no doi"),
      (3L, "plain prose, nothing to find; 10.12/short is no DOI")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.citationScan(d).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getString(3)))
    // the strip class treats trailing ')]' as sentence punctuation
    // too — a documented simplification (balanced-paren suffixes are
    // rare enough that Crossref's own cleanup does the same)
    assert(out.contains((1L, "doi", "10.5555/j.issue(42")),
      s"trailing ').' strips: $out")
    assert(out.contains((1L, "arxiv", "2301.01234v2")))
    assert(out.contains((2L, "arxiv", "hep-th/9901001")))
    assert(!out.exists(_._1 == 3L), "registrant must be 4+ digits")
  }

  test("jsonKeyCensus: keys counted per parseable object, malformed " +
    "and non-object rows contribute nothing") {
    val d = Seq("{\"a\":1,\"b\":2}", "{\"a\":3}", "{nope", "[1,2]")
      .toDF("json")
    val out = TextAnalysis.jsonKeyCensus(d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a" -> 2L, "b" -> 1L))
  }

  test("invisibleChars: zero-width and bidi counted exactly, " +
    "mixed-script words token-level, clean text unsuspicious") {
    val d = Seq(
      (1L, "pa\u200Byp\u200Cal \u202Ereversed p\u0430ypal ok"),
      (2L, "perfectly clean ascii prose")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.invisibleChars(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getAs[Long]("n_zero_width") == 2L)
    assert(r1.getAs[Long]("n_bidi_controls") == 1L)
    assert(r1.getAs[Long]("n_mixed_script_words") == 1L)
    assert(r1.getAs[Boolean]("suspicious"))
    assert(!out(2L).getAs[Boolean]("suspicious") &&
      out(2L).getAs[Long]("n_zero_width") == 0L)
  }

  test("homoglyphNormalize: spoofed brand collapses to ASCII, both " +
    "cases map, non-confusable Cyrillic survives untouched") {
    val d = Seq(
      (1L, "p\u0430yp\u0430l"),       // Cyrillic а twice
      (2L, "\u0412\u0410\u0422"),    // ВАТ -> BAT
      (3L, "\u0434\u0436")            // дж: no Latin lookalike
    ).toDF("doc_id", "text")
    val out = TextAnalysis.homoglyphNormalize(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) == "paypal" && out(1L).getLong(2) == 2L)
    assert(out(2L).getString(1) == "BAT" && out(2L).getAs[Boolean]("changed"))
    assert(out(3L).getString(1) == "\u0434\u0436" &&
      !out(3L).getAs[Boolean]("changed"))
  }

  test("mainContent: link-dense and too-short blocks drop, prose survives " +
    "in order; exact integer link-ratio rule") {
    val prose = "This paragraph carries plenty of genuine article prose text."
    val html = "<div><a href=\"/\">Navigation menu link</a> " +
      "<a href=\"/b\">Another nav entry</a></div>" +
      s"<p>$prose</p><p>Tiny.</p>" +
      s"<h2>A heading long enough to keep around here</h2>" +
      "<div>Half link: <a href=\"/x\">12345678901234567890123456</a></div>"
    val out = TextAnalysis.mainContent(Seq((1L, html)).toDF("doc_id", "html"))
      .collect()(0)
    assert(out.getLong(1) == 5L && out.getLong(2) == 2L)
    assert(out.getString(3) ==
      prose + "\nA heading long enough to keep around here")
    // the half-link block: txt 38 chars, link 26 -> 2600 > 1900 dropped
  }

  test("feedParse: RSS items and Atom entries with both link forms; " +
    "values trimmed, absent published null") {
    val rss = "<rss><channel><item><title> T1 </title>" +
      "<link>https://f.io/1</link><pubDate>Mon</pubDate></item>" +
      "<item><title>T2</title><link>https://f.io/2</link></item>" +
      "</channel></rss>"
    val atom = "<feed><entry><title>A1</title>" +
      "<link rel=\"alternate\" href=\"https://g.io/1\"/>" +
      "<updated>2026-01-01</updated></entry></feed>"
    val out = TextAnalysis.feedParse(
        Seq(("f.io", rss), ("g.io", atom)).toDF("domain", "xml"))
      .orderBy("domain", "pos").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getString(4), Option(r.getString(5))))
    assert(out.toSeq == Seq(
      ("f.io", 0L, "rss", "T1", "https://f.io/1", Some("Mon")),
      ("f.io", 1L, "rss", "T2", "https://f.io/2", None),
      ("g.io", 0L, "atom", "A1", "https://g.io/1", Some("2026-01-01"))))
  }

  test("ogTags: both attribute orders captured, non-og metas ignored") {
    val html = "<meta property=\"og:title\" content=\"T\">" +
      "<meta name=\"description\" content=\"d\">" +
      "<meta content=\"article\" property=\"og:type\">"
    val out = TextAnalysis.ogTags(Seq((1L, html)).toDF("doc_id", "html"))
      .orderBy("pos").collect()
      .map(r => (r.getString(2), r.getString(3)))
    assert(out.toSeq == Seq(("title", "T"), ("type", "article")))
  }

  test("stripQuotedReply: signature cut at the first '--' line, quoted and " +
    "attribution lines dropped, counts exact; no-signature mail intact") {
    val mail = "Hello there.\n> old\nOn Tue, x wrote:\nBye.\n--\nSig\nMore sig"
    val plain = "Just two lines.\nNo quoting at all."
    val out = TextAnalysis.stripQuotedReply(
        Seq((1L, mail), (2L, plain)).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(1L) == (("Hello there.\nBye.", 7L, 1L, 3L)))
    assert(out(2L) == ((plain, 2L, 0L, 0L)))
  }

  test("vttParse: header/NOTE blocks skipped, timestamps to exact ms, " +
    "multi-line cue text kept") {
    val vtt = "WEBVTT\n\nNOTE a comment\n\n" +
      "00:00:01.000 --> 00:00:04.250\nHello there.\n\n" +
      "01:02:03.004 --> 01:02:59.999\nTwo\nlines"
    val out = TextAnalysis.vttParse(Seq((1L, vtt)).toDF("doc_id", "vtt"))
      .orderBy("block_pos").collect()
    assert(out.length == 2)
    assert(out(0).getLong(2) == 1000L && out(0).getLong(3) == 4250L &&
      out(0).getLong(4) == 3250L && out(0).getString(5) == "Hello there.")
    assert(out(1).getLong(2) == 3723004L && out(1).getLong(3) == 3779999L &&
      out(1).getString(5) == "Two\nlines")
    // CRLF dump: blocks still split, cue text comes out \n-clean
    val crlf = vtt.replace("\n", "\r\n")
    val c = TextAnalysis.vttParse(Seq((2L, crlf)).toDF("doc_id", "vtt"))
      .orderBy("block_pos").collect()
    assert(c.length == 2 && c(1).getString(5) == "Two\nlines")
    // and the SRT sibling: comma millis, declared index, CRLF-safe
    val srt = "1\r\n00:00:01,500 --> 00:00:02,000\r\nFirst\r\nsecond\r\n\r\n" +
      "7\r\n00:01:00,000 --> 00:01:01,250\r\nNext"
    val s = TextAnalysis.srtParse(Seq((1L, srt)).toDF("doc_id", "srt"))
      .orderBy("block_pos").collect()
    assert(s.length == 2)
    assert(s(0).getLong(2) == 1L && s(0).getLong(3) == 1500L &&
      s(0).getLong(4) == 2000L && s(0).getString(6) == "First\nsecond")
    assert(s(1).getLong(2) == 7L && s(1).getLong(3) == 60000L)
  }

  test("dialogueTurns: speaker-tagged lines become turns in order; " +
    "narrative lines and over-long labels skip") {
    val text = "Alice: Hi Bob.\n(door opens)\nDr. Gray: Morning, all.\n" +
      ("x" * 50) + ": not a speaker\nBob:no space after colon\nBob: Bye."
    val out = TextAnalysis.dialogueTurns(Seq((1L, text)).toDF("doc_id", "text"))
      .orderBy("turn_pos").collect()
      .map(r => (r.getLong(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      (0L, "Alice", "Hi Bob.", 2L),
      (2L, "Dr. Gray", "Morning, all.", 2L),
      (5L, "Bob", "Bye.", 1L)))
  }

  test("markdownStats: headers, fence pairs (unterminated counts to EOF), " +
    "links, and the exact code-char fraction") {
    val md = "# H1\n\nsee [a](http://x) and [b](y)\n\n" +
      "```\ncode1\n```\nmid\n## H2\n```\ntail code"
    val out = TextAnalysis.markdownStats(Seq((1L, md)).toDF("doc_id", "text"))
      .collect()(0)
    assert(out.getLong(1) == 2L, "two ATX headers")
    assert(out.getLong(2) == 2L, "one closed + one unterminated block")
    assert(out.getLong(3) == 2L, "two markdown links")
    assert(out.getLong(4) == ("\ncode1\n".length + "\ntail code".length).toLong)
    assert(out.getDouble(6) == out.getLong(4).toDouble / md.length)
    // empty doc: every count 0 and code_fraction null, never NaN
    val empty = TextAnalysis.markdownStats(
      Seq((2L, "")).toDF("doc_id", "text")).collect()(0)
    assert(empty.getLong(4) == 0L && empty.getLong(5) == 0L)
    assert(empty.isNullAt(6), "empty doc must yield null code_fraction")
  }

  test("paragraphDedup: corpus-frequent paragraphs drop everywhere, " +
    "survivors reassemble in order; all-dropped docs keep an empty string") {
    val boiler = "Subscribe now."
    val rows = Seq(
      (1L, s"Alpha one.\n\n$boiler\n\nAlpha two."),
      (2L, s"$boiler\n\nBeta body."),
      (3L, boiler),           // every paragraph is boilerplate
      (4L, "Solo paragraph.") // unique everywhere
    ).toDF("doc_id", "text")
    val out = TextAnalysis.paragraphDedup(rows).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == ((3L, 1L, "Alpha one.\n\nAlpha two.")))
    assert(out(2L) == ((2L, 1L, "Beta body.")))
    assert(out(3L) == ((1L, 1L, "")))
    assert(out(4L) == ((1L, 0L, "Solo paragraph.")))
  }

  test("canonicalDedup: snapshots collapse on the declared canonical; " +
    "pages without one key on their own URL") {
    val rows = Seq(
      (1L, "https://a.com/p?v=1",
        "<link rel=\"canonical\" href=\"/p\">", 1L, "x"),
      (2L, "https://a.com/p?v=2",
        "<link rel=\"canonical\" href=\"/p\">", 2L, "xy"),
      (3L, "https://a.com/q", "<p>no canonical</p>", 5L, "z")
    ).toDF("doc_id", "url", "html", "ts", "text")
    val out = TextAnalysis.canonicalDedup(rows).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(4))).toMap
    assert(out == Map("https://a.com/p" -> ((2L, 2L)),
      "https://a.com/q" -> ((3L, 1L))),
      "newest snapshot represents the canonical group")
  }

  test("pageMeta: first title entity-decoded and collapsed, description in " +
    "both attribute orders, canonical resolved, charset lowercased") {
    val rows = Seq(
      (1L, "https://a.com/d/p.html",
        "<head><TITLE> A &amp;\n B </TITLE><title>second</title>" +
          "<meta name=\"description\" content=\"d one\">" +
          "<link rel=\"canonical\" href=\"../c.html\">" +
          "<meta charset=\"UTF-8\"></head>"),
      (2L, "https://b.org/x",
        "<meta content=\"d two\" name=\"description\">" +
          "<link href=\"/only\" rel=\"canonical\"><META CHARSET=latin-1>"),
      (3L, "https://c.net/y", "<p>no head fields at all</p>")
    ).toDF("doc_id", "url", "html")
    val out = TextAnalysis.pageMeta(rows).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getString(2) == "A & B", "first title wins, decoded+collapsed")
    assert(r1.getString(3) == "d one")
    assert(r1.getString(4) == "https://a.com/c.html", "canonical resolves ../")
    assert(r1.getString(5) == "utf-8")
    val r2 = out(2L)
    assert(r2.isNullAt(2) && r2.getString(3) == "d two")
    assert(r2.getString(4) == "https://b.org/only")
    assert(r2.getString(5) == "latin-1", "unquoted uppercase charset")
    val r3 = out(3L)
    assert(r3.isNullAt(2) && r3.isNullAt(3) && r3.isNullAt(4) && r3.isNullAt(5))
  }

  test("sitemapParse: entries keep order, optional fields null, " +
    "values whitespace-trimmed, priority parsed as double") {
    val xml = "<?xml version=\"1.0\"?><urlset>" +
      "<url><loc>\n https://s.io/1 \n</loc><lastmod>2026-03-01</lastmod>" +
      "<changefreq>weekly</changefreq><priority>0.9</priority></url>" +
      "<URL><loc>https://s.io/2</loc></URL>" + // uppercase tag must NOT match
      "<url><priority>0.1</priority><loc>https://s.io/3</loc></url>" +
      "</urlset>"
    val out = TextAnalysis.sitemapParse(Seq(("s.io", xml)).toDF("domain", "xml"))
      .orderBy("pos").collect()
    assert(out.length == 2, "tag-exact <url> entries only")
    assert(out.forall(_.getString(2) == "url"))
    assert(out(0).getString(3) == "https://s.io/1" &&
      out(0).getString(4) == "2026-03-01" &&
      out(0).getString(5) == "weekly" && out(0).getDouble(6) == 0.9)
    assert(out(1).getString(3) == "https://s.io/3" &&
      out(1).isNullAt(4) && out(1).isNullAt(5) && out(1).getDouble(6) == 0.1)
    // a sitemapindex file yields kind='sitemap' rows instead of zero
    val idx = "<sitemapindex>" +
      "<sitemap><loc>https://s.io/a.xml</loc>" +
      "<lastmod>2026-04-01</lastmod></sitemap>" +
      "<sitemap><loc> https://s.io/b.xml </loc></sitemap></sitemapindex>"
    val iout = TextAnalysis.sitemapParse(
      Seq(("s.io", idx)).toDF("domain", "xml")).orderBy("pos").collect()
    assert(iout.length == 2 && iout.forall(_.getString(2) == "sitemap"))
    assert(iout(0).getString(3) == "https://s.io/a.xml" &&
      iout(0).getString(4) == "2026-04-01")
    assert(iout(1).getString(3) == "https://s.io/b.xml" &&
      iout(1).isNullAt(4) && iout(1).isNullAt(5) && iout(1).isNullAt(6))
  }

  test("warcParse: response records yield HTTP fields + body after the " +
    "second CRLFCRLF; warcinfo and truncated records stay null-safe") {
    val resp = "WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: https://a.com/x\r\nContent-Length: 52\r\n\r\n" +
      "HTTP/1.1 301 Moved\r\nContent-Type: text/html\r\n\r\n" +
      "body with\r\n\r\ninternal separator"
    val info = "WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: nope\r\n\r\n" +
      "software: test"
    val trunc = "WARC/1.0\r\nWARC-Type: request"
    val rows = Seq((1L, resp), (2L, info), (3L, trunc)).toDF("doc_id", "warc")
    val out = TextAnalysis.warcParse(rows).collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getString(1) == "response" && r1.getString(2) == "https://a.com/x")
    assert(r1.getLong(4) == 52L && r1.getInt(5) == 301 &&
      r1.getString(6) == "text/html")
    assert(r1.getString(7) == "body with\r\n\r\ninternal separator",
      "limit-3 split keeps the body verbatim")
    val r2 = out(2L)
    assert(r2.getString(1) == "warcinfo" && r2.isNullAt(5) &&
      r2.getString(7) == "software: test")
    assert(r2.isNullAt(4), "non-numeric Content-Length stays null")
    val r3 = out(3L)
    assert(r3.getString(1) == "request" && r3.isNullAt(5) && r3.isNullAt(7))
  }

  test("robotsSitemaps: global directive collected in order regardless of " +
    "sections; case-insensitive name") {
    val robots = Seq(
      ("a.com", "Sitemap: https://a.com/s1.xml\nUser-agent: *\n" +
        "Disallow: /x\nSITEMAP: https://a.com/s2.xml\nSitemap:"),
      ("b.org", "User-agent: *\nDisallow:")
    ).toDF("domain", "robots")
    val out = TextAnalysis.robotsSitemaps(robots).orderBy("domain", "pos")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(out.toSeq == Seq(
      ("a.com", 0L, "https://a.com/s1.xml"),
      ("a.com", 3L, "https://a.com/s2.xml")),
      "empty value dropped, b.org absent")
  }

  test("robotsCrawlDelay: first wildcard-section value wins; other-section, " +
    "non-numeric and absent directives yield no row") {
    val robots = Seq(
      ("a.com", "User-agent: *\nCrawl-delay: 2.5\nCrawl-delay: 99"),
      ("b.org", "User-agent: gptbot\nCrawl-delay: 9\nUser-agent: *\nDisallow:"),
      ("c.net", "User-agent: *\nCrawl-delay: soon"),
      ("d.io", "User-agent: *\nDisallow: /x")
    ).toDF("domain", "robots")
    val out = TextAnalysis.robotsCrawlDelay(robots).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out == Map("a.com" -> 2.5))
  }

  test("robotsGate: RFC 9309 longest-match — Disallow:/ + Allow:/public/ " +
    "inverts, longer Disallow beats shorter Allow, exact ties fall to Allow") {
    val robots = Seq(
      ("a.com", "User-agent: *\nDisallow: /\nAllow: /public/\nAllow: /pub"),
      ("b.org", "User-agent: *\nAllow: /\nDisallow: /tmp"),
      ("c.net", "User-agent: *\nDisallow: /dir/\nAllow: /dir/"),
      ("d.io",  "User-agent: gptbot\nAllow: /\nUser-agent: *\nDisallow: /x")
    ).toDF("domain", "robots")
    val urls = Seq(
      (1L, "https://a.com/public/page"),  // Allow(8) beats Disallow(1)
      (2L, "https://a.com/private/p"),    // only Disallow:/ matches
      (3L, "https://a.com/pub-file"),     // Allow /pub (4) beats / (1)
      (4L, "https://b.org/tmp-file"),     // Disallow /tmp (4) beats Allow / (1)
      (5L, "https://b.org/fine"),
      (6L, "https://c.net/dir/x"),        // exact-length tie -> Allow
      (7L, "https://d.io/x/y")            // gptbot Allow must not leak into *
    ).toDF("doc_id", "url")
    val out = TextAnalysis.robotsGate(urls, robots).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> true,
      4L -> false, 5L -> true, 6L -> true, 7L -> false))
  }

  test("extractLinks: resolves absolute/protocol-relative/root-relative, " +
    "drops fragment/mailto/path-relative; non-URL base keeps only absolutes") {
    val rows = Seq(
      (1L, "https://a.com/dir/p",
        """<a href="https://b.com/x">1</a><A HREF="/root">2</A>""" +
        """<a href="//cdn.c.net/y">3</a><a href="#s">4</a>""" +
        """<a href="rel.html">5</a><a href="mailto:u@v.w">6</a>"""),
      (2L, "not a url", """<a href="https://d.org/z">7</a><a href="/kept?">8</a>""")
    ).toDF("doc_id", "url", "html")
    val out = TextAnalysis.extractLinks(rows).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val d1 = out.filter(_._1 == 1L).map(x => x._3).sorted
    assert(d1 === Seq("https://a.com/root", "https://b.com/x", "https://cdn.c.net/y"))
    assert(out.filter(_._1 == 1L).forall(_._2 == "a.com"))
    assert(out.filter(_._1 == 1L).find(_._3 == "https://cdn.c.net/y").get._4 == "cdn.c.net")
    val d2 = out.filter(_._1 == 2L)
    assert(d2.map(_._3).toSeq == Seq("https://d.org/z"),
      "root-relative unresolvable without a base")
    assert(d2.forall(_._2 == ""), "no base host -> empty src_domain")
  }

  test("urlDedup: canonical-URL collapse keeps newest ts, then longest " +
    "text, then smallest id; churn counts reported") {
    val rows = Seq(
      // one canonical URL, four surface forms; ts winner is doc 2
      (1L, "https://a.com/x?utm_source=f#top", 5L, "old body"),
      (2L, "HTTPS://A.com/x", 9L, "newest body"),
      (3L, "https://a.com/x/", 9L, "newest body longer"), // ts tie: longer text loses to.. wins
      (4L, "https://a.com:443/x", 3L, "oldest"),
      // ts AND length tie -> smaller id kept
      (5L, "https://b.org/y", 7L, "same size"),
      (6L, "https://b.org/y#frag", 7L, "same size")
    ).toDF("doc_id", "url", "ts", "text")
    val out = TextAnalysis.urlDedup(rows).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(4), r.getLong(5))).toMap
    assert(out.size == 2)
    assert(out("https://a.com/x") == ((3L, 4L, 4L)),
      "ts 9 tie broken by longer text; 4 snapshots, 4 distinct bodies")
    assert(out("https://b.org/y") == ((5L, 2L, 1L)),
      "full tie broken by smaller doc_id; identical bodies counted once")
  }

  test("c4Clean: line rules keep only punctuated >=5-word non-js lines; " +
    "page gates drop brace/lorem/blocklist/thin pages wholesale") {
    val good = "This sentence carries enough words to pass easily."
    val rows = Seq(
      // every line rule: short, unterminated, javascript, good x3
      (1L, s"Tiny line.\nno terminal punctuation on this one\n" +
           s"plenty of javascript words ending with a period.\n$good\n$good\n$good"),
      (2L, s"$good\n$good\n$good\nBut a stray { brace lurks here."),
      (3L, s"$good\n$good\n$good\nSome Lorem Ipsum filler text appears."),
      (4L, s"$good\n$good\n$good and one casino token."),
      (5L, s"$good\nOnly two sentences total here okay.")   // <3 marks -> thin
    ).toDF("doc_id", "text")
    val out = TextAnalysis.c4Clean(rows).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3), r.getBoolean(4)))
      .toMap
    assert(out(1L)._1 == 6L && out(1L)._2 == 3L, "3 of 6 lines survive")
    assert(out(1L)._3 == s"$good\n$good\n$good" && out(1L)._4)
    assert(!out(2L)._4, "brace anywhere on the page drops it")
    assert(!out(3L)._4, "lorem ipsum is case-insensitive")
    assert(!out(4L)._4, "blocklisted token drops the page")
    assert(!out(5L)._4 && out(5L)._2 == 2L, "fewer than 3 terminal marks")
  }

  test("scriptCensus: per-script counts, first-in-order dominant tiebreak, " +
    "none for scriptless text") {
    val d = Seq(
      (1L, "hello world"),            // pure Latin
      (2L, "これは漢字です"),           // kana 5 > han 2 -> kana... no: kana これはです=5, han 漢字=2
      (3L, "abc 漢字漢 x"),            // latin 4 > han 3
      (4L, "123 !!! ..."),            // digits/punct only -> none
      (5L, "ab 漢字"),                 // tie 2-2 -> latin wins (first in order)
      (6L, "")                        // empty -> none
    ).toDF("doc_id", "text")
    val out = TextAnalysis.scriptCensus(d)
      .select("doc_id", "dominant", "n_latin", "n_han", "n_kana")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(1L) == (("latin", 10L, 0L, 0L)))
    assert(out(2L) == (("kana", 0L, 2L, 5L)))
    assert(out(3L) == (("latin", 4L, 3L, 0L)))
    assert(out(4L) == (("none", 0L, 0L, 0L)))
    assert(out(5L) == (("latin", 2L, 2L, 0L)), "ties break first-in-order")
    assert(out(6L) == (("none", 0L, 0L, 0L)))
  }

  test("scriptTokens: per-codepoint fallback for no-space scripts; " +
    "byte-identical to tokens on space-script text") {
    val d = Seq(
      (1L, "abc漢字def ghi"),                 // CJK inside a Latin run
      (2L, "これはテストです"),               // pure Japanese, no spaces
      (3L, "sawasdee ไทยmix"),               // Thai + Latin
      (4L, "한국어 test"),                    // Hangul syllables
      (5L, "  plain   ascii text  "),        // space-script: must equal tokens
      (6L, "naïve café résumé")              // accented Latin: NOT split
    ).toDF("doc_id", "text")
    val out = d.select(col("doc_id"),
        TextAnalysis.scriptTokens(col("text")).as("st"),
        TextAnalysis.tokens(col("text")).as("ws"))
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[String](1), r.getSeq[String](2))).toMap
    assert(out(1L)._1 == Seq("abc", "漢", "字", "def", "ghi"))
    assert(out(2L)._1 == Seq("こ", "れ", "は", "テ", "ス", "ト", "で", "す"))
    assert(out(3L)._1 == Seq("sawasdee", "ไ", "ท", "ย", "mix"))
    assert(out(4L)._1 == Seq("한", "국", "어", "test"))
    assert(out(5L)._1 == out(5L)._2, "space-script text must match tokens")
    assert(out(6L)._1 == out(6L)._2, "accented Latin must not fragment")
  }

  test("secretScan: CJK prose fragments below minLen — no no-space-script " +
    "false secrets; Latin secrets still caught in mixed text") {
    val d = Seq(
      // 20 distinct CJK chars: a whitespace tokenizer would score this
      // one 20-char token at n·ln 20 ≈ 59.9 nats >> 2·20 and redact it
      (1L, "これは日本語の文章であり秘密ではありません"),
      (2L, "前置き aK9xQz2mPw4rT7vBaa 後書き") // real secret amid CJK
    ).toDF("doc_id", "text")
    val out = TextAnalysis.secretScan(d, minLen = 16, entropyPerChar = 2.0)
      .collect().map(r => r.getAs[String]("token")).toSet
    assert(!out.exists(_.exists(_ > '฀')),
      s"no CJK token may reach the scorer: $out")
    assert(out.contains("aK9xQz2mPw4rT7vBaa"),
      "the embedded Latin credential must still surface")
  }

  test("langIdMargin: separable docs confident, a balanced-mix doc is not; runner-up labeled") {
    val d = Seq(
      (1L, "the cat and the dog and the cat and the dog", "en"),
      (2L, "the dog and the cat and the dog too they and", "en"),
      (3L, "der hund und die katze und der hund die und", "de"),
      (4L, "die katze und der hund und die katze der und", "de"),
      (5L, "der cat und dog die the hund and", "en") // half German tokens
    ).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.langIdMargin(d, confidenceMargin = 15.0)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("lang_pred"), r.getAs[String]("runner_up"),
          r.getAs[Boolean]("confident")))).toMap
    assert(out.size == 5)
    // pure docs: own language wins over a real runner-up, confidently
    assert(out(1L)._1 == "en" && out(3L)._1 == "de")
    assert(out(1L)._2 == "de" && out(3L)._2 == "en")
    assert(out(1L)._3 && out(2L)._3 && out(3L)._3 && out(4L)._3)
    // the balanced-mix doc still argmaxes to a label, but its margin
    // over the other language is thin — the gate routes it to review
    assert(!out(5L)._3, s"mixed doc should not clear a 15-nat margin: ${out(5L)}")
  }

  test("charNgramLangId: broadcast and shuffle profile-join forms are bit-equal") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "lang_true", "lang_pred", "score", "correct")
      .collect().map(_.toSeq).sortBy(_.toString)
    // threshold 0 forces the shuffle join; the huge default keeps broadcast
    val bc = canon(TextAnalysis.charNgramLangId(d))
    val sh = canon(TextAnalysis.charNgramLangId(d, maxIndexCells = 0L))
    assert(bc.length > 0 && bc.sameElements(sh))
  }

  test("charNgramLangIdWith: a narrow-row, wide-index profile takes the join path with the kernel's scores") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    // every n-gram kept for one language only: as many rows as n-grams,
    // while the kernel's index still holds a slot per n-gram per language
    val byNg = org.apache.spark.sql.expressions.Window.partitionBy("ng").orderBy("lang_cand")
    val narrow = TextAnalysis.charNgramProfiles(d)
      .withColumn("__r", row_number().over(byNg)).filter(col("__r") === 1).drop("__r")
      .cache()
    try {
      val rows = narrow.count()
      val langs = narrow.select("lang_cand").distinct().count()
      assert(langs >= 2, s"fixture has $langs languages")
      def run(max: Long) = TextAnalysis.charNgramLangIdWith(d, narrow, maxIndexCells = max)
      def kernel(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.optimizedPlan.toString.contains("lang_profile_scores")
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .select("doc_id", "lang_true", "lang_pred", "score", "correct")
        .collect().map(_.toSeq).sortBy(_.toString)
      // a bound of the profile's row count fits the rows, not the index
      val joined = run(rows)
      val indexed = run(rows * langs)
      assert(!kernel(joined), "a bound below n-grams × languages must take the join path")
      assert(kernel(indexed), "a bound of n-grams × languages must take the kernel path")
      val (j, k) = (canon(joined), canon(indexed))
      assert(j.length > 0 && j.sameElements(k))
    } finally narrow.unpersist()
  }

  test("charNgramLangIdWith: pre-trained profiles reproduce the self-trained output") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val prof = TextAnalysis.charNgramProfiles(d)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "lang_true", "lang_pred", "score", "correct")
      .collect().map(_.toSeq).sortBy(_.toString)
    val self = canon(TextAnalysis.charNgramLangId(d))
    val pre  = canon(TextAnalysis.charNgramLangIdWith(d, prof))
    assert(self.sameElements(pre))
    // and the pre-trained path must not checkpoint the n-gram stream:
    // its plan should still reach the parquet scan
    val plan = TextAnalysis.charNgramLangIdWith(d, prof)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("Relation") || plan.contains("FileScan"),
      s"pre-trained scoring should keep scan lineage (no checkpoint):\n$plan")
  }

  test("ngramNovelty: shared shingles lower novelty; shingle-less docs absent") {
    val df = Seq(
      (1L, "a b c d"),   // shingles {a b c, b c d}
      (2L, "a b c e"),   // shingles {a b c, b c e}
      (3L, "z z z z z"), // distinct shingle set collapses to {z z z}
      (4L, "hi")         // too short to shingle
    ).toDF("doc_id", "text")
    val got = TextAnalysis.ngramNovelty(df).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_novel"),
          r.getAs[Double]("novelty"))).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got(1L) == ((2L, 1L, 0.5))) // "a b c" shared with doc 2
    assert(got(2L) == ((2L, 1L, 0.5)))
    assert(got(3L) == ((1L, 1L, 1.0)))
  }

  test("boilerplateNgrams counts DISTINCT documents (in-doc repetition counts once)") {
    val df = Seq(
      (1L, "x y z x y z x y z"), // "x y z" three times in ONE doc
      (2L, "x y z q"),
      (3L, "q r s"),
      (4L, "x y z r")).toDF("doc_id", "text")
    val got = TextAnalysis.boilerplateNgrams(df, shingleN = 3, minDocs = 2)
      .as[(String, Long)].collect().toMap
    assert(got("x y z") == 3) // docs 1, 2, 4 — not 5
    assert(!got.contains("q r s")) // df 1 < minDocs
  }

  test("decontaminate: contaminated docs are test-split and leak counts are bounded") {
    val docs = load("documents")
    val got = TextAnalysis.decontaminate(docs, shingleN = 5).cache()
    assert(got.count() > 0, "fixture corpus is templated — some test doc must leak")
    // every flagged doc is in the test split
    val testIds = TextAnalysis.trainTestSplit(docs, "doc_id")
      .filter(col("split") === "test").select("doc_id")
    assert(got.select("doc_id").exceptAll(testIds).isEmpty)
    // the leak count never exceeds the doc's distinct 5-shingle count
    val bounds = docs.select(col("doc_id"),
      size(array_distinct(Dedup.shingles(col("text"), 5))).cast("long").as("n_sh"))
    assert(got.join(bounds, "doc_id")
      .filter(col("n_contaminated") > col("n_sh")).isEmpty)
  }

  test("native repetition_stats is value-identical to the sorted-run-scan construction") {
    val docs = load("documents").limit(200)
    val sorted = array_sort(Dedup.shingles(col("text"), 3))
    val zero = struct(lit(null).cast("string").as("prev"),
      lit(0L).as("run"), lit(0L).as("best"), lit(0L).as("n"))
    val scan = aggregate(sorted, zero, (acc, x) => {
      val run = when(acc.getField("prev") === x, acc.getField("run") + 1L).otherwise(lit(1L))
      struct(x.as("prev"), run.as("run"),
        greatest(acc.getField("best"), run).as("best"),
        (acc.getField("n") + 1L).as("n"))
    })
    val composable = docs.select(col("doc_id"), scan.as("__s"))
      .filter(col("__s.n") > 0)
      .select(col("doc_id"),
        (col("__s.best").cast("double") / col("__s.n")).as("repetition"),
        col("__s.n").as("n_shingles"))
    val native = TextAnalysis.repetitionScore(docs)
    assert(native.exceptAll(composable).isEmpty && composable.exceptAll(native).isEmpty)
  }

  test("vocab counts token occurrences and document frequency") {
    val df = Seq((1L, "a b a"), (2L, "a c")).toDF("doc_id", "text")
    val v = TextAnalysis.vocab(df)
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(v == Map("a" -> (3L, 2L), "b" -> (1L, 1L), "c" -> (1L, 1L)))
  }

  test("languageGuess votes stopwords, ties break deterministically, no votes → und") {
    val df = Seq(
      (1L, "the cat and the dog"),
      (2L, "el perro y la casa de los gatos"),
      (3L, "xyzzy qwerty")).toDF("doc_id", "text")
    val r = TextAnalysis.languageGuess(df).orderBy("doc_id")
      .select("lang_guess").as[String].collect()
    assert(r.toSeq == Seq("en", "es", "und"))
  }

  test("fingerprint is stable under token reorder and duplication") {
    val df = Seq((1L, "b a c"), (2L, "a b c c a")).toDF("doc_id", "text")
    val fps = TextAnalysis.fingerprint(df).select("fingerprint").as[String].collect()
    assert(fps(0) == fps(1))
  }

  test("qualityScore lands in [0,1]") {
    val q = TextAnalysis.qualityScore(load("documents")).select("quality").as[Double].collect()
    assert(q.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("chunk: overlapping token windows cover every token; last chunk short") {
    val df = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")), (2L, "a b"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.chunk(df, size = 4, stride = 3)
      .orderBy("doc_id", "chunk_id")
      .as[(Long, Long, String, Long)].collect()
    val d1 = r.filter(_._1 == 1L)
    assert(d1.map(_._3).toSeq == Seq(
      "t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10", "t10"))
    assert(d1.map(_._4).toSeq == Seq(4L, 4L, 4L, 1L))
    assert(d1.map(_._2).toSeq == Seq(0L, 1L, 2L, 3L))
    // doc 2: a single short chunk
    assert(r.filter(_._1 == 2L).map(_._3).toSeq == Seq("a b"))
  }

  test("piiStats/redactPii: emails, IPs and phones counted and replaced; clean text untouched") {
    val df = Seq(
      (1L, "mail a.user+tag@sub.example.org or b@x.io, host 192.168.0.1, call +44-20-7946-0958"),
      (2L, "no pii here at all")).toDF("doc_id", "text")
    val out = TextAnalysis.piiStats(df).orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_emails") == 2)
    assert(out(0).getAs[Long]("n_ips") == 1)
    assert(out(0).getAs[Long]("n_phones") == 1)
    assert(out(1).getAs[Long]("n_emails") == 0 && out(1).getAs[Long]("n_ips") == 0
      && out(1).getAs[Long]("n_phones") == 0)
    val red = df.select(TextAnalysis.redactPii(col("text")).as("r"))
      .orderBy(col("r")).as[String].collect()
    assert(red.contains("mail <EMAIL> or <EMAIL>, host <IP>, call <PHONE>"))
    assert(red.contains("no pii here at all"))
  }

  test("native ws_tokens is value-identical to filter(split) incl. edge cases") {
    import spark.implicits._
    val edge = Seq((1L, "a  b   c"), (2L, "  lead and trail  "), (3L, ""),
      (4L, "    "), (5L, "single"), (6L, "tab\tand\nnewline stay glued"))
      .toDF("doc_id", "text")
    val corpus = load("documents").limit(200).select(col("doc_id"), col("text"))
    for (df <- Seq(edge, corpus)) {
      val native = df.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
      val composed = df.select(col("doc_id"),
        TextAnalysis.tokensComposable(col("text")).as("t"))
      assert(native.exceptAll(composed).isEmpty && composed.exceptAll(native).isEmpty)
    }
  }

  test("native shingle_set is value-identical to the composable constructions") {
    val docs = load("documents").limit(150)
    val toks = TextAnalysis.tokens(col("text"))
    // raw distinct shingles
    val rawNative = docs.select(col("doc_id"),
      graft.functions.ShingleSet(toks, 3).as("sh"))
    val rawComposed = docs.select(col("doc_id"),
      array_distinct(Dedup.shingles(col("text"), 3)).as("sh"))
    assert(rawNative.exceptAll(rawComposed).isEmpty
      && rawComposed.exceptAll(rawNative).isEmpty)
    // hashed 16-hex-prefix keys
    val keyNative = docs.select(col("doc_id"),
      graft.functions.ShingleSet(toks, 5, 16).as("sh"))
    val keyComposed = docs.select(col("doc_id"),
      array_distinct(transform(Dedup.shingles(col("text"), 5),
        c => substring(md5(c), 1, 16))).as("sh"))
    assert(keyNative.exceptAll(keyComposed).isEmpty
      && keyComposed.exceptAll(keyNative).isEmpty)
    // short docs: fewer tokens than the window yields an empty set
    import spark.implicits._
    val short = Seq((1L, "a b")).toDF("doc_id", "text")
    assert(short.select(graft.functions.ShingleSet(
      TextAnalysis.tokens(col("text")), 3).as("sh"))
      .head.getSeq[String](0).isEmpty)
  }

  test("native cdc_chunks is value-identical to the composable construction") {
    val docs = load("documents").limit(60)
    val native = TextAnalysis.contentChunks(docs)
      .as[(Long, Long, Long, Long, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    val composed = TextAnalysis.contentChunksComposable(docs)
      .as[(Long, Long, Long, Long, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(native.nonEmpty && native == composed)
  }

  test("contentChunks: chunks partition the token stream; boundaries are edit-local") {
    val words = (1 to 400).map(i => s"tok$i")
    val doc = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val chunks = TextAnalysis.contentChunks(doc)
      .orderBy("chunk_idx").collect()
    // partition: token counts sum to n, starts are contiguous
    assert(chunks.map(_.getAs[Long]("n_tokens")).sum == 400)
    val startsEnds = chunks.map(r =>
      (r.getAs[Long]("first_pos"), r.getAs[Long]("n_tokens")))
    assert(startsEnds.head._1 == 1)
    startsEnds.sliding(2).foreach {
      case Array((s1, n1), (s2, _)) => assert(s2 == s1 + n1)
      case _ =>
    }
    // the CDC property: appending text only changes the FINAL chunk's
    // region — every earlier chunk hash survives (a fixed grid would
    // keep them too; the interesting half is the prefix edit below)
    val appended = Seq((1L, (words ++ Seq("zzz", "yyy")).mkString(" "))).toDF("doc_id", "text")
    val h1 = chunks.map(_.getAs[String]("chunk_hash")).toSeq
    val h2 = TextAnalysis.contentChunks(appended)
      .orderBy("chunk_idx").collect().map(_.getAs[String]("chunk_hash")).toSeq
    assert(h2.take(h1.length - 1) == h1.dropRight(1))
    // PREPENDING shifts every token position, which re-hashes every
    // fixed-grid chunk — but CDC boundaries re-synchronize: all
    // original chunk hashes except the first survive
    val prepended = Seq((1L, (Seq("aaa", "bbb", "ccc") ++ words).mkString(" ")))
      .toDF("doc_id", "text")
    val h3 = TextAnalysis.contentChunks(prepended)
      .orderBy("chunk_idx").collect().map(_.getAs[String]("chunk_hash")).toSet
    assert(h1.tail.forall(h3.contains),
      "content-addressed boundaries must re-synchronize after a prefix edit")
  }

  test("stratifiedSample: deterministic, per-stratum fractions roughly honored") {
    val emb = load("embeddings")
    val s1 = TextAnalysis.stratifiedSample(emb, "label", "vec_id",
      Map("0" -> 0.75, "1" -> 0.5), defaultFraction = 0.25)
      .select("vec_id").as[Long].collect().toSet
    val s2 = TextAnalysis.stratifiedSample(emb, "label", "vec_id",
      Map("0" -> 0.75, "1" -> 0.5), defaultFraction = 0.25)
      .select("vec_id").as[Long].collect().toSet
    assert(s1 == s2) // no RNG — identical on re-run
    val perLabel = emb.groupBy("label").count().as[(Int, Long)].collect().toMap
    val sampled = TextAnalysis.stratifiedSample(emb, "label", "vec_id",
      Map("0" -> 0.75, "1" -> 0.5), defaultFraction = 0.25)
      .groupBy("label").count().as[(Int, Long)].collect().toMap
    def frac(l: Int) = sampled.getOrElse(l, 0L).toDouble / perLabel(l)
    assert(math.abs(frac(0) - 0.75) < 0.2)
    assert(math.abs(frac(1) - 0.5) < 0.2)
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("shingles: sliding 3-grams; short docs yield empty (not sequence(1,0) garbage)") {
    val df = Seq((1L, "a b c d"), (2L, "a b")).toDF("doc_id", "text")
    val r = df.select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .orderBy("doc_id").as[(Long, Seq[String])].collect()
    assert(r(0)._2 == Seq("a b c", "b c d"))
    assert(r(1)._2 == Seq.empty)
  }

  test("dedupBurden: drops attributed to the right source; unpaired sources at 0") {
    val docs = Seq((1L, "s1"), (2L, "s1"), (3L, "s2"), (4L, "s2"))
      .toDF("doc_id", "source")
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val got = Dedup.dedupBurden(docs, pairs).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_dropped"),
          r.getAs[Double]("drop_rate"))).toMap
    assert(got("s1") == ((2L, 1L, 0.5)))
    assert(got("s2") == ((2L, 0L, 0.0)))
  }

  test("thresholdSweep: descending cumulative confusion matches hand computation") {
    val scored = Seq((1L, 0.95, true), (2L, 0.85, true), (3L, 0.75, false),
      (4L, 0.65, true)).toDF("doc_id", "quality", "y")
    val got = TextAnalysis.thresholdSweep(scored, "quality", col("y"))
      .orderBy(col("bucket").desc).collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("tp"), r.getAs[Long]("fp"),
        r.getAs[Double]("prec"), r.getAs[Double]("recall")))
    assert(got.toSeq == Seq(
      (95L, 1L, 0L, 1.0, 1.0 / 3),
      (85L, 2L, 0L, 1.0, 2.0 / 3),
      (75L, 2L, 1L, 2.0 / 3, 2.0 / 3),
      (65L, 3L, 1L, 0.75, 1.0)))
  }

  test("sourceOverlap: shared shingles produce the exact pairwise Jaccard") {
    val df = Seq(
      (1L, "a b c d", "s1"),  // shingles {abc, bcd}
      (2L, "a b c e", "s2"),  // {abc, bce} — shares abc with s1
      (3L, "x y z w", "s3"))  // disjoint
      .toDF("doc_id", "text", "source")
    val got = Dedup.sourceOverlap(df).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Long]("n_shared"), r.getAs[Double]("jaccard"))).toMap
    assert(got.keySet == Set(("s1", "s2"))) // zero-overlap pairs absent
    assert(got(("s1", "s2")) == ((2L, 2L, 1L, 1.0 / 3)))
  }

  test("dedupCorpusBest: keeps the best-scored member per cluster, min id on ties") {
    val docs = Seq((1L, 0.1), (2L, 0.9), (3L, 0.9), (4L, 0.5))
      .toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val kept = Dedup.dedupCorpusBest(docs, pairs, "score")
      .select("doc_id").as[Long].collect().toSet
    // cluster {1,2,3}: max score 0.9 held by 2 and 3 → keep 2; 4 unpaired
    assert(kept == Set(2L, 4L))
  }

  test("maxBucket guard: ~1k near-identical docs star-expand to bounded pairs; " +
    "transitive dedup unaffected") {
    // one mega-bucket: every doc minhashes identically
    val docs = spark.range(1000).select(col("id").as("doc_id"),
      lit("the same short crawl boilerplate repeated on every page").as("text"))
    val bands = Dedup.lshBands(Dedup.minhash(docs, k = 6), bands = 3, rowsPerBand = 2)
    val capped = Dedup.candidatePairs(bands, maxBucket = 100)
    val pairs = capped.as[(Long, Long)].collect()
    // star expansion: n-1 pairs, all anchored at the bucket minimum —
    // not the n(n-1)/2 ≈ 500k the uncapped expansion would produce
    assert(pairs.length == 999)
    assert(pairs.forall(_._1 == 0L))
    // what transitive dedup consumes is intact: one cluster, min rep
    val comps = Dedup.connectedComponents(capped).as[(Long, Long)].collect()
    assert(comps.length == 1000 && comps.forall(_._2 == 0L))
    // under-threshold buckets are untouched by the cap
    val tiny = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val tinyBands = Dedup.lshBands(Dedup.minhash(tiny, k = 6), 3, 2)
    assert(Dedup.candidatePairs(tinyBands, maxBucket = 100)
      .as[(Long, Long)].collect().toSet ==
      Dedup.candidatePairs(tinyBands).as[(Long, Long)].collect().toSet)
  }

  test("simhashNearDup maxBucket: identical docs stay one cluster with n-1 pairs") {
    val docs = spark.range(500).select(col("id").as("doc_id"),
      lit("identical page body for simhash blocking").as("text"))
    val capped = Dedup.simhashNearDup(docs, maxHamming = 1, maxBucket = 50)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(capped.length == 499)
    assert(capped.forall(_._1 == 0L))
  }

  test("containmentForPairs: a fully quoted doc scores 1.0 where Jaccard stays low") {
    val small = "alpha beta gamma delta epsilon zeta"
    val big = ("x" * 3).split("").mkString(" ") + " " + small + " " +
      (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, small), (2L, big)).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val c = Dedup.containmentForPairs(docs, pairs).collect()(0)
    assert(c.getAs[Double]("containment") == 1.0)
    val j = Dedup.jaccardForPairs(docs, pairs).collect()(0)
    assert(j.getAs[Double]("jaccard") < 0.2)
  }

  test("exactByContent groups identical content") {
    val df = Seq((1L, "same text here"), (2L, "same text here"), (3L, "different"))
      .toDF("doc_id", "text")
    val r = Dedup.exactByContent(df, "doc_id", Seq("text"))
      .orderBy("keep_id").collect()
    assert(r.length == 2)
    assert(r(0).getAs[Long]("keep_id") == 1L && r(0).getAs[Long]("n_copies") == 2L)
  }

  test("native minhash_sig is bit-for-bit the composable shingle-md5-slice construction") {
    val docs = load("documents").limit(200)
    val k = 6; val w = 32 / k
    val hashed = docs.select(col("doc_id"),
      transform(Dedup.shingles(col("text"), 3), s => md5(s)).as("__h"))
    val composable = hashed.select(col("doc_id") +: (0 until k).map { i =>
      array_min(transform(col("__h"), h => substring(h, 1 + w * i, w))).as(s"mh$i")
    }: _*)
    val native = Dedup.minhash(docs, k = k)
    assert(native.exceptAll(composable).isEmpty && composable.exceptAll(native).isEmpty)
  }

  test("minhash: identical docs have identical signatures; near-dups collide in some band") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val df = Seq((1L, base), (2L, base), (3L, base + " extra tail"), (4L, "totally unrelated words appear here instead now"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhash(df, k = 6)
    val rows = sigs.orderBy("doc_id").collect()
    assert((1 to 6).forall(i => rows(0).getString(i) == rows(1).getString(i)))
    val pairs = Dedup.candidatePairs(Dedup.lshBands(sigs, bands = 3, rowsPerBand = 2))
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 4L)))
  }

  test("jaccardEstimate: identical docs estimate 1.0, disjoint docs 0.0") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "one two three four five six")).toDF("doc_id", "text")
    val sigs = Dedup.minhash(docs, k = 4)
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
    val est = Dedup.jaccardEstimate(sigs, pairs, k = 4)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(est((1L, 2L)) == 1.0)
    assert(est((1L, 3L)) == 0.0)
  }

  test("jaccardPairs: identical docs score 1.0") {
    val df = Seq((1L, "w x y z w x"), (2L, "w x y z w x"), (3L, "p q r s t u"))
      .toDF("doc_id", "text")
    val r = Dedup.jaccardPairs(df).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Double]("jaccard") == 1.0)
  }

  test("native simhash16 expression is bit-for-bit the composable md5-nibble construction") {
    val docs = load("documents").limit(200)
    val toks = TextAnalysis.tokens(col("text"))
    val hashes = transform(toks, t => Dedup.hash16(t))
    val zeros = array((0 until 16).map(_ => lit(0L)): _*)
    val votes = aggregate(hashes, zeros, (acc, h) =>
      array((0 until 16).map { k =>
        acc.getItem(k) +
          when(pmod(floor(h / (1L << k)), lit(2)) === 1, lit(1L)).otherwise(lit(-1L))
      }: _*))
    val composable = docs.filter(size(toks) > 0)
      .select(col("doc_id"),
        (0 until 16).map(k =>
          when(votes.getItem(k) >= 0, lit(1L << k)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
    val native = Dedup.simhash(docs)
    assert(native.exceptAll(composable).isEmpty && composable.exceptAll(native).isEmpty)
  }

  test("simhash: near-identical docs are close in hamming distance, unrelated far") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val sh = Dedup.simhash(df)
    val m = sh.collect().map(r => r.getLong(0) -> r.getAs[Long]("simhash")).toMap
    val near = java.lang.Long.bitCount(m(1L) ^ m(2L))
    val far = java.lang.Long.bitCount(m(1L) ^ m(3L))
    assert(near < far)
  }

  test("editDistancePairs: exact distances on candidates, above-threshold pairs dropped") {
    val docs = Seq(
      (1L, "the quick brown fox"),
      (2L, "the quick brown fix"),   // distance 1 from doc 1
      (3L, "completely different words here"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
    val out = Dedup.editDistancePairs(docs, pairs, maxDist = 5)
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((2L, 1L, 1L)) || out == Set((1L, 2L, 1L)),
      s"expected only the (1,2) pair at distance 1, got $out")
  }

  test("connectedComponents: chains collapse to min id, separate clusters stay apart") {
    // 1-2-3 chained, 5-6 separate, 7-8-9 via two pairs
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 7L), (8L, 9L))
      .toDF("doc_a", "doc_b")
    val comps = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L,
      7L -> 7L, 8L -> 7L, 9L -> 7L))
  }

  test("dedupCorpus keeps the min-id representative per cluster and all unpaired docs") {
    val docs = (1L to 10L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // clusters {1,2,3} and {7,8}; 4,5,6,9,10 unpaired
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b")
    val kept = Dedup.dedupCorpus(docs, pairs)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 4L, 5L, 6L, 7L, 9L, 10L))
  }

  test("clusterSafeSplit: cluster members share one side; singletons split by own id") {
    val docs = (1L to 40L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // clusters {1,2,3} and {7,8}; everything else unpaired
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b")
    val out = Dedup.clusterSafeSplit(docs, pairs)
      .select("doc_id", "comp", "split")
      .as[(Long, Long, String)].collect()
    assert(out.length == 40)
    val byId = out.map(r => r._1 -> r).toMap
    // no near-dup pair straddles train/test — the leakage guarantee
    Seq((1L, 2L), (2L, 3L), (1L, 3L), (7L, 8L)).foreach { case (a, b) =>
      assert(byId(a)._3 == byId(b)._3, s"pair ($a,$b) straddles the split")
    }
    assert(byId(2L)._2 == 1L && byId(8L)._2 == 7L)
    // singleton docs carry their own id as the label and match the
    // per-id split rule exactly
    val single = TextAnalysis.trainTestSplit(docs.filter(col("doc_id") === 20L), "doc_id")
      .select("split").as[String].head()
    assert(byId(20L)._2 == 20L && byId(20L)._3 == single)
    // both sides are populated at this size
    assert(out.map(_._3).distinct.sorted.toSeq == Seq("test", "train"))
  }

  test("candidateQuality: perfect detectors on identical docs, no false truth") {
    // 1 and 2 are byte-identical (every detector must pair them);
    // the rest are unrelated
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six"),
      (4L, "totally different content here now"))
      .toDF("doc_id", "text")
    val out = Dedup.candidateQuality(docs, threshold = 0.5)
      .as[(String, Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.keySet == Set("minhash_lsh", "simhash16", "simhash64"))
    // truth = exactly the identical pair; every detector finds it
    out.values.foreach { m =>
      assert(m._3 == 1L, s"truth must be the one identical pair, got $m")
      assert(m._4 == 1L && m._6 == 1.0, s"detector missed the identical pair: $m")
    }
  }

  test("clusterSizeStats histograms component sizes with removal counts") {
    // {1,2,3} size 3, {7,8} and {9,10} size 2
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L), (9L, 10L)).toDF("doc_a", "doc_b")
    val out = Dedup.clusterSizeStats(pairs)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out == Map(3L -> (1L, 2L), 2L -> (2L, 2L)))
  }

  test("connectedComponents converges on a long path (diameter > 1 round)") {
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val comps = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    assert(comps.size == 12 && comps.values.forall(_ == 1L))
  }

  test("connectedComponents matches a reference union-find on random graphs") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 3) {
      val n = 30
      val pairList = (1 to 40)
        .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      val got = Dedup.connectedComponents(pairList.toDF("doc_a", "doc_b"))
        .as[(Long, Long)].collect().toMap
      // reference: driver-side union-find with min-id roots
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairList.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = pairList.flatMap { case (a, b) => Seq(a, b) }.distinct
        .map(x => x -> find(x)).toMap
      assert(got == want)
    }
  }

  test("incrementalCandidatePairs equals the cross-side slice of full candidate generation") {
    val docs = load("documents")
    val existing = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val eb = Dedup.lshBands(Dedup.minhash(existing, k = 6), bands = 3, rowsPerBand = 2)
    val inc = Dedup.incrementalCandidatePairs(eb, batch, bands = 3, rowsPerBand = 2)
      .as[(Long, Long)].collect().toSet
    val all = Dedup.candidatePairs(
        Dedup.lshBands(Dedup.minhash(docs, k = 6), bands = 3, rowsPerBand = 2))
      .as[(Long, Long)].collect().toSet
    val cross = all.collect {
      case (a, b) if a % 10 != 0 && b % 10 == 0 => (a, b)
      case (a, b) if a % 10 == 0 && b % 10 != 0 => (b, a)
    }
    assert(inc == cross && inc.nonEmpty)
  }

  test("simhash64 matches an independent JVM reference on corpus docs") {
    val docs = load("documents").limit(100)
    def ref(text: String): Option[Long] = {
      val toks = text.split(" ").filter(_.nonEmpty)
      if (toks.isEmpty) return None
      val md = java.security.MessageDigest.getInstance("MD5")
      val votes = new Array[Int](64)
      for (t <- toks) {
        md.reset()
        val h = java.nio.ByteBuffer.wrap(md.digest(t.getBytes("UTF-8"))).getLong
        for (k <- 0 until 64)
          votes(k) += (if (((h >>> k) & 1L) == 1L) 1 else -1)
      }
      Some((0 until 64).foldLeft(0L)((fp, k) =>
        if (votes(k) >= 0) fp | (1L << k) else fp))
    }
    val want = docs.select("doc_id", "text").as[(Long, String)].collect()
      .flatMap { case (id, tx) => ref(tx).map(id -> _) }.toMap
    val got = Dedup.simhash64(docs).as[(Long, Long)].collect().toMap
    assert(got.nonEmpty && got == want)
    // 64-bit fingerprints use the full width: some corpus doc must set
    // bit 63 (i.e. come out negative), or the width is not real
    assert(got.values.exists(_ < 0L))
  }

  test("simhashNearDup64: blocked result is exact over the corpus (all-pairs reference)") {
    val docs = load("documents")
    val blocked = Dedup.simhashNearDup64(docs, maxHamming = 3)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Long)].collect().toSet
    val m = Dedup.simhash64(docs).as[(Long, Long)].collect().toMap
    val exact = (for {
      a <- m.keys; b <- m.keys if a < b
      h = java.lang.Long.bitCount(m(a) ^ m(b)) if h <= 3
    } yield (a, b, h.toLong)).toSet
    assert(blocked == exact && blocked.nonEmpty)
  }

  test("simhashNearDup: identical docs pair at hamming 0; blocked result is " +
    "exact (matches the all-pairs filter)") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta iota"),
      (4L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val blocked = Dedup.simhashNearDup(df, maxHamming = 3)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Long)].collect().toSet
    assert(blocked.contains((1L, 2L, 0L)))
    // exact reference: all-pairs hamming over the fingerprints
    val m = Dedup.simhash(df).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("simhash")).toMap
    val exact = (for {
      a <- m.keys; b <- m.keys if a < b
      h = java.lang.Long.bitCount(m(a) ^ m(b)) if h <= 3
    } yield (a, b, h.toLong)).toSet
    assert(blocked == exact)
  }

  test("removeRepeatedSpans: a long exact span shared across docs is removed " +
    "from every occurrence but the first; unique text survives") {
    // token family chosen so the span's interior has several CDC
    // boundaries (md5-deterministic; "lic$i" happens to produce none)
    val shared = (0 until 80).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $shared gamma"),
      (2L, s"delta $shared epsilon zeta"),
      (3L, "totally unrelated text here"),
      (4L, "")).toDF("doc_id", "text")
    // the fixture must actually share interior CDC chunks, or the test
    // is vacuous
    val occ = TextAnalysis.contentChunks(docs).filter(col("n_tokens") >= 4)
    val byDoc = occ.select("doc_id", "chunk_hash").as[(Long, String)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val sharedHashes = byDoc(1L) & byDoc(2L)
    assert(sharedHashes.nonEmpty, "fixture produced no shared chunks")
    val out = Dedup.removeRepeatedSpans(docs, minTokens = 4, minDocs = 2)
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    val m = out.map(r => r._1 -> r).toMap
    // doc 1 holds every canonical first occurrence (min doc id)
    assert(m(1L)._3 == 0L && m(1L)._2 == s"alpha beta $shared gamma")
    // doc 2 loses exactly its shared-chunk tokens, keeps its unique text
    val expectedRemoved = occ.filter(col("doc_id") === 2L)
      .filter(col("chunk_hash").isin(sharedHashes.toSeq: _*))
      .agg(sum(col("n_tokens"))).as[Long].head()
    assert(m(2L)._3 == expectedRemoved && expectedRemoved > 0L)
    val kept2 = m(2L)._2.split(" ").toSet
    assert(Set("delta", "epsilon", "zeta").subsetOf(kept2))
    assert(m(2L)._2.split(" ").length.toLong ==
      docs.filter(col("doc_id") === 2L).select(col("text")).as[String].head()
        .split(" ").count(_.nonEmpty) - expectedRemoved)
    // untouched and empty docs pass through (whitespace-normalized)
    assert(m(3L) == ((3L, "totally unrelated text here", 0L)))
    assert(m(4L) == ((4L, "", 0L)))
  }
  test("removeRepeatedSpans granularity bound: a repeat with no complete " +
    "interior chunk survives; growing it past a chunk interval gets it caught") {
    // the contract (scaladoc): removal is whole-CDC-chunk — a repeat
    // shorter than minTokens, or one contributing no complete chunk of
    // >= minTokens tokens, is MISSED by design. Prove both directions.
    // (1) sub-minTokens repeat: can never form a removable chunk
    val tiny = "shared tiny span here"
    val d1 = Seq(
      (1L, s"unique one $tiny trailing text number one"),
      (2L, s"other words $tiny closing section two")).toDF("doc_id", "text")
    val out1 = Dedup.removeRepeatedSpans(d1, minTokens = 8, minDocs = 2)
      .as[(Long, String, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(out1.values.forall(_ == 0L),
      "a repeat shorter than minTokens must survive (documented bound)")
    // (2) the same repeat grown to many chunk intervals: interior
    // chunks now match and the second occurrence loses them
    val long = (0 until 80).map(i => s"w$i").mkString(" ")
    val d2 = Seq(
      (1L, s"unique one $long trailing"),
      (2L, s"other words $long closing")).toDF("doc_id", "text")
    val out2 = Dedup.removeRepeatedSpans(d2, minTokens = 8, minDocs = 2)
      .as[(Long, String, Long)].collect().map(r => r._1 -> r).toMap
    assert(out2(1L)._3 == 0L, "canonical first occurrence keeps its text")
    assert(out2(2L)._3 > 0L, "the long repeat's interior chunks must be removed")
    // (3) the bound is fragment-sized, not repeat-sized: what doc 2
    // keeps of the repeat is only its head/tail partial chunks —
    // strictly less than the repeat itself
    assert(out2(2L)._3 >= 40L,
      s"the bulk of an 80-token repeat must go, removed=${out2(2L)._3}")
  }

  test("clusterSourceCensus: cross-source mirror vs single-source boilerplate") {
    val docs = Seq(
      (1L, "a", "s1"), (2L, "a", "s2"), (3L, "a", "s3"), // mirror across 3 sources
      (10L, "b", "s1"), (11L, "b", "s1"),                // internal boilerplate
      (20L, "c", "s9"))                                  // unpaired: absent
    .toDF("doc_id", "text", "source")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val byComp = Dedup.clusterSourceCensus(docs, pairs)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(byComp == Map(1L -> ((3L, 3L)), 10L -> ((2L, 1L))))
  }

  test("pagerankCentrality: mass conserved exactly; hub outranks leaves; isolated keeps start") {
    // star: 1 at the center of 2,3,4; isolated node 9
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("doc_a", "doc_b")
    val nodes = Seq(1L, 2L, 3L, 4L, 9L).toDF("doc_id")
    val out = Dedup.pagerankCentrality(pairs, nodes, iters = 5)
      .as[(Long, Long)].collect().toMap
    assert(out.values.sum == 5L * 1000000000L, "mass must be conserved exactly")
    assert(out(9L) == 1000000000L, "isolated node keeps its start mass")
    assert(out(1L) > out(2L), "the hub must out-mass its leaves")
    assert(out(2L) == out(3L) && out(3L) == out(4L), "symmetric leaves tie exactly")
    // determinism across partitionings: a repartitioned run is bit-equal
    val out2 = Dedup.pagerankCentrality(pairs.repartition(7), nodes.repartition(3), iters = 5)
      .as[(Long, Long)].collect().toMap
    assert(out == out2)
  }

  test("pagerankCentrality: pair endpoints absent from nodes still hold mass " +
    "— conservation survives an incomplete node list") {
    // edge 4-5 references ids the node list omits entirely
    val pairs = Seq((1L, 2L), (4L, 5L)).toDF("doc_a", "doc_b")
    val nodes = Seq(1L, 2L, 3L).toDF("doc_id")
    val out = Dedup.pagerankCentrality(pairs, nodes, iters = 5)
      .as[(Long, Long)].collect().toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L),
      "endpoints outside nodes must enter the rank table")
    assert(out.values.sum == 5L * 1000000000L,
      "mass must be conserved across the unioned id set")
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("dot/cosine on known vectors") {
    val df = Seq((Array(1.0f, 0.0f), Array(0.6f, 0.8f))).toDF("a", "b")
    val r = df.select(Similarity.dot(col("a"), col("b")).as("d"),
      Similarity.cosine(col("a"), col("b")).as("c")).collect()(0)
    assert(math.abs(r.getDouble(0) - 0.6) < 1e-7)
    assert(math.abs(r.getDouble(1) - 0.6) < 1e-7)
  }

  test("centroidOutliers flags the vector pointing away from its label centroid") {
    val emb = Seq(
      (1L, Array(1.0f, 0.1f), 0),
      (2L, Array(1.0f, -0.1f), 0),
      (3L, Array(0.9f, 0.0f), 0),
      (4L, Array(-1.0f, 0.0f), 0), // opposed to label-0's center
      (5L, Array(0.0f, 1.0f), 1),
      (6L, Array(0.0f, 0.8f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.centroidOutliers(emb, minCosine = 0.0)
      .select("vec_id", "is_outlier").as[(Long, Boolean)].collect().toMap
    assert(out == Map(1L -> false, 2L -> false, 3L -> false,
      4L -> true, 5L -> false, 6L -> false))
  }

  test("hardNegatives returns only other-label vectors, most-similar first") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.99f, 0.1f), 0),  // same label: must never appear
      (3L, Array(0.9f, 0.2f), 1),   // hardest negative for 1
      (4L, Array(0.0f, 1.0f), 1),
      (5L, Array(-1.0f, 0.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(emb, queryIds = Seq(1L), k = 3)
      .orderBy("rank")
      .select("neighbor_id", "neg_label").as[(Long, Int)].collect()
    assert(out.map(_._1).toSeq == Seq(3L, 4L, 5L))
    assert(out.forall(_._2 != 0), "a same-label vector leaked into the negatives")
  }

  test("labelConfusion surfaces entangled labels and orthogonal ones") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(1.0f, 0.2f), 0),
      (3L, Array(1.0f, 0.1f), 1), (4L, Array(0.9f, 0.0f), 1), // ~ label 0
      (5L, Array(0.0f, 1.0f), 2), (6L, Array(0.0f, 0.7f), 2)) // orthogonal
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.labelConfusion(emb)
      .as[(Int, Int, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(out.keySet == Set((0, 1), (0, 2), (1, 2)))
    assert(out((0, 1)) > 0.99, s"entangled labels must read ~1, got ${out((0, 1))}")
    assert(out((0, 2)) < 0.2 && out((1, 2)) < 0.2)
  }

  test("cosineTopK: nearest neighbor of a vector's duplicate is that duplicate") {
    val emb = load("embeddings")
    val dup = emb.filter(col("vec_id") === 0).withColumn("vec_id", lit(9999L))
    val all = emb.union(dup)
    val top = Similarity.cosineTopK(all.filter(col("vec_id") === 9999L), all, k = 1)
      .collect()(0)
    assert(top.getAs[Long]("neighbor_id") == 0L)
    assert(math.abs(top.getAs[Double]("sim") - 1.0) < 1e-6)
  }

  test("quantizeInt8: floor quantization, bounded reconstruction error, zero-vector safe") {
    val df = Seq(
      (1L, Array(1.27f, -1.27f, 0.5f)),
      (2L, Array(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8(df)
      .as[(Long, Double, Long, Long, Double)].collect().sortBy(_._1)
    val (_, scale1, qSum1, qCk1, err1) = got(0)
    // scale = 1.27f/127 ≈ 0.01 (float→double rounding shifts ~1.5e-10);
    // q = (127, -127, 50); checksum 127·1 − 127·2 + 50·3
    assert(math.abs(scale1 - 0.01) < 1e-9)
    assert(qSum1 == 127L - 127L + 50L)
    assert(qCk1 == 127L * 1 - 127L * 2 + 50L * 3)
    // floor error is < one quantization step
    assert(err1 >= 0.0 && err1 < scale1)
    // all-zero vector: scale 0, zero components, zero error
    assert(got(1) == ((2L, 0.0, 0L, 0L, 0.0)))
    // corpus-wide: error never reaches one step
    val emb = load("embeddings")
    val bad = Similarity.quantizeInt8(emb)
      .filter(col("max_err") >= col("scale")).count()
    assert(bad == 0)
  }

  test("annTopK returns same-bucket neighbors ranked like the exact ranking") {
    val emb = load("embeddings")
    val ann = Similarity.annTopK(emb, Seq(0L), k = 3, planes = 3, dim = 64)
      .select("neighbor_id", "sim").as[(Long, Double)].collect()
    assert(ann.nonEmpty && ann.length <= 3)
    // every ANN hit must appear in the exact scoring with the same sim
    val exact = Similarity.cosineTopK(emb.filter(col("vec_id") === 0), emb, k = 500)
      .select("neighbor_id", "sim").as[(Long, Double)].collect().toMap
    ann.foreach { case (id, sim) => assert(exact(id) == sim) }
  }

  test("ivfTopK hits are real neighbors with exact sims; self excluded") {
    val emb = load("embeddings")
    val ivf = Similarity.ivfTopK(emb, Seq(0L, 1L), k = 3, nLists = 4, nProbe = 2)
      .select("query_id", "neighbor_id", "sim").as[(Long, Long, Double)].collect()
    assert(ivf.nonEmpty)
    assert(ivf.forall { case (q, n, _) => q != n })
    val exact = Similarity.cosineTopK(emb.filter(col("vec_id") <= 1), emb, k = 500)
      .select("query_id", "neighbor_id", "sim").as[(Long, Long, Double)]
      .collect().map { case (q, n, s) => (q, n) -> s }.toMap
    ivf.foreach { case (q, n, s) => assert(exact((q, n)) == s) }
  }

  test("pqBuild: 8 codes per vector in [0,16); identical vectors share codes and ADC scores") {
    val emb = load("embeddings")
    val idx = Similarity.pqBuild(emb)
    val codes = idx.codes.as[(Long, Int, Int)].collect()
    val n = emb.count()
    assert(codes.length == n * 8)
    assert(codes.forall { case (_, m, c) => m >= 0 && m < 8 && c >= 0 && c < 16 })
    // determinism: a rebuild assigns identical codes
    val again = Similarity.pqBuild(emb).codes.as[(Long, Int, Int)].collect()
    assert(codes.sortBy(r => (r._1, r._2)).toSeq == again.sortBy(r => (r._1, r._2)).toSeq)
    // reconstruction error is non-negative (mathematically ‖·‖²; allow
    // fp slack) and finite
    val errs = Similarity.pqReconstructionError(emb, idx)
      .select("sq_err").as[Double].collect()
    assert(errs.forall(e => e > -1e-9 && java.lang.Double.isFinite(e)))
    // ADC: k hits per query, self excluded, scores descending per query
    val adc = Similarity.pqAdcTopK(emb, idx, Seq(0L, 1L), k = 3)
      .orderBy("query_id", "rank")
      .select("query_id", "neighbor_id", "adc_score")
      .as[(Long, Long, Double)].collect()
    assert(adc.length == 6)
    assert(adc.forall { case (q, nb, _) => q != nb })
    adc.groupBy(_._1).values.foreach { hits =>
      val ss = hits.map(_._3).toSeq
      assert(ss == ss.sorted(Ordering[Double].reverse))
    }
  }

  test("dimStats + standardizeEmbeddings: moments match, z-scores ~N(0,1), dead dims -> 0") {
    val emb = load("embeddings")
    val stats = Similarity.dimStats(emb).localCheckpoint()
    val row0 = stats.filter(col("dim") === 0).head()
    // cross-check dim 0 against a driver-side computation (1e-6: the
    // 2^24 grid quantizes each addend, so moments agree to ~1e-7)
    val xs = emb.select(element_at(col("embedding"), 1).cast("double"))
      .as[Double].collect()
    val mean = xs.sum / xs.length
    assert(math.abs(row0.getAs[Double]("mean") - mean) < 1e-6)
    assert(math.abs(row0.getAs[Double]("variance") -
      (xs.map(x => x * x).sum / xs.length - mean * mean)) < 1e-6)
    // standardized corpus re-measures to mean 0, variance 1
    val zstats = Similarity.dimStats(
      Similarity.standardizeEmbeddings(emb, stats)).collect()
    zstats.foreach { r =>
      assert(math.abs(r.getAs[Double]("mean")) < 1e-6)
      assert(math.abs(r.getAs[Double]("variance") - 1.0) < 1e-5)
    }
    // dead dimension: constant column standardizes to 0, not NaN
    val const = Seq((1L, Array(2.5f, 1.0f)), (2L, Array(2.5f, 3.0f)))
      .toDF("vec_id", "embedding")
    val z = Similarity.standardizeEmbeddings(const, Similarity.dimStats(const))
      .orderBy("vec_id")
      .select(element_at(col("embedding"), 1)).as[Double].collect()
    assert(z.toSeq == Seq(0.0, 0.0))
  }

  test("covarianceMatrix diagonal equals dimStats variance exactly") {
    val emb = load("embeddings")
    val diag = Similarity.covarianceMatrix(emb)
      .filter(col("p") === col("q"))
      .select(col("p").as("dim"), col("cov")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    Similarity.dimStats(emb).collect().foreach { r =>
      // dimStats clamps at 0; off the clamp the formulas are identical
      val v = r.getAs[Double]("variance")
      if (v > 0) assert(diag(r.getAs[Long]("dim")) == v)
    }
  }

  test("pcaTopK: dominant direction recovered, components orthonormal, " +
    "eigenvalues decreasing; projection variance ≈ eigenvalue") {
    import scala.math.{cos, sin}
    // 2 informative dims inside 8: points along (cos t, sin t) of a
    // fixed direction with +/- spread — first PC must be that line
    val theta = 0.5
    val rows = (0 until 400).map { i =>
      val r = (i % 21 - 10) / 2.0                      // spread along the line
      val o = (i % 5 - 2) / 20.0                       // small orthogonal noise
      val x = (r * cos(theta) - o * sin(theta)).toFloat
      val y = (r * sin(theta) + o * cos(theta)).toFloat
      (i.toLong, Array(x, y, 0f, 0f, 0f, 0f, 0f, 0f))
    }.toDF("vec_id", "embedding")
    val comps = Similarity.pcaTopK(rows, k = 2).localCheckpoint()
    val c = comps.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2), r.getDouble(3)))
    val pc1 = c.filter(_._1 == 0L).sortBy(_._2).map(_._3)
    val pc2 = c.filter(_._1 == 1L).sortBy(_._2).map(_._3)
    assert(math.abs(math.abs(pc1(0)) - cos(theta)) < 1e-3 &&
      math.abs(math.abs(pc1(1)) - sin(theta)) < 1e-3,
      s"pc1 should align with the generating line, got ${pc1.take(2).toSeq}")
    assert(math.abs(pc1.zip(pc2).map { case (a, b) => a * b }.sum) < 1e-6)
    assert(math.abs(pc1.map(x => x * x).sum - 1.0) < 1e-9)
    val l1 = c.filter(_._1 == 0L).head._4
    val l2 = c.filter(_._1 == 1L).head._4
    assert(l1 > l2 && l2 >= -1e-9)
    // variance of PC1 projections equals its eigenvalue
    val projs = Similarity.pcaProject(rows, comps)
      .filter(col("component") === 0).select("proj").as[Double].collect()
    val mean = projs.sum / projs.length
    val pvar = projs.map(p => (p - mean) * (p - mean)).sum / projs.length
    assert(math.abs(pvar - l1) < 1e-2, s"proj variance $pvar vs eigenvalue $l1")
  }

  test("whiten: coordinates decorrelated with unit variance and zero mean") {
    import scala.math.{cos, sin}
    val theta = 0.5
    val rows = (0 until 400).map { i =>
      val r = (i % 21 - 10) / 2.0
      val o = (i % 5 - 2) / 10.0
      val x = (1.0 + r * cos(theta) - o * sin(theta)).toFloat // offset mean
      val y = (2.0 + r * sin(theta) + o * cos(theta)).toFloat
      (i.toLong, Array(x, y, 0f, 0f))
    }.toDF("vec_id", "embedding")
    val w = Similarity.whiten(rows, k = 2).localCheckpoint()
    val stats = Similarity.dimStats(w).collect()
      .map(r => r.getAs[Long]("dim") ->
        (r.getAs[Double]("mean"), r.getAs[Double]("variance"))).toMap
    stats.values.foreach { case (m, v) =>
      assert(math.abs(m) < 1e-4, s"whitened mean $m should be ~0")
      assert(math.abs(v - 1.0) < 1e-3, s"whitened variance $v should be ~1")
    }
    // decorrelated: off-diagonal covariance of the whitened coords ~0
    val off = Similarity.covarianceMatrix(w)
      .filter(col("p") =!= col("q")).select("cov").as[Double].collect()
    off.foreach(c => assert(math.abs(c) < 1e-3, s"off-diag cov $c should be ~0"))
  }

  test("semanticDecontaminate: flags cosine matches; ties pick min eval id") {
    val a = Array.fill(64)(0.1f)
    val d = Array.tabulate(64)(i => if (i % 2 == 0) 0.1f else -0.1f)
    val corpus = Seq((1L, a), (2L, d)).toDF("vec_id", "embedding")
    // power-of-two multiples stay exactly proportional in float, so
    // the two eval sims are bit-identical — a genuine tie
    val ev = Seq((100L, a.map(_ * 2f)), (101L, a.map(_ * 4f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticDecontaminate(corpus, ev,
      threshold = 0.9, planes = 4, dim = 64).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("corpus_id") == 1L)
    // 2a and 4a tie at the same exact sim → min eval id, both counted
    assert(r.getAs[Long]("eval_id") == 100L)
    assert(r.getAs[Long]("n_matches") == 2L)
    assert(r.getAs[Double]("best_sim") > 0.999)
  }

  test("knnGraphLsh: ranks dense from 1, sims non-increasing, k respected") {
    val emb = load("embeddings")
    val g = Similarity.knnGraphLsh(emb, k = 3, planes = 4, dim = 64)
      .select("src", "dst", "sim", "rank")
      .as[(Long, Long, Double, Long)].collect()
    assert(g.nonEmpty)
    g.groupBy(_._1).values.foreach { rows =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1L to sorted.length).toSeq)
      assert(sorted.length <= 3)
      val sims = sorted.map(_._3).toSeq
      assert(sims == sims.sorted(Ordering[Double].reverse))
    }
  }

  test("winsorizeEmbeddings clips at the exact order statistics; inliers untouched") {
    // dim 0: one huge outlier among 20 values; dim 1: constant
    val rows = (1L to 20L).map { i =>
      val x0 = if (i == 20) 1000.0f else i.toFloat
      (i, Array(x0, 5.0f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val out = Similarity.winsorizeEmbeddings(df, pLo = 0.10, pHi = 0.90)
      .as[(Long, Long, Double, Double)].collect()
      .groupBy(_._2)
    // k = ceil(p*20): lo = 2nd smallest = 2.0, hi = 18th = 18.0
    val d0 = out(0L).map(r => r._1 -> (r._3, r._4)).toMap
    assert(d0(20L) == ((1000.0, 18.0)), "outlier clipped to the 0.90 cut")
    assert(d0(1L) == ((1.0, 2.0)), "low tail clipped to the 0.10 cut")
    assert(d0(10L) == ((10.0, 10.0)), "inlier untouched")
    // constant dim: quantiles equal the constant, nothing moves
    assert(out(1L).forall(r => r._3 == 5.0 && r._4 == 5.0))
  }

  test("robustStandardize: median-centered, IQR-scaled; outliers don't move the transform") {
    // dim 0: 1..20 plus nothing — median = 10th asc value? k=ceil(.5*20)=10 → 10.0
    // q1 = 5th = 5.0, q3 = 15th = 15.0, IQR 10; dim 1 constant → pinned 0
    val rows = (1L to 20L).map(i => (i, Array(i.toFloat, 7.0f)))
    val df = rows.toDF("vec_id", "embedding")
    val out = Similarity.robustStandardize(df)
      .as[(Long, Long, Double, Double)].collect().groupBy(_._2)
    val d0 = out(0L).map(r => r._1 -> r._4).toMap
    assert(d0(10L) == 0.0 && d0(20L) == 1.0 && d0(5L) == -0.5)
    assert(out(1L).forall(_._4 == 0.0))
    // one huge outlier barely changes anyone else's robust score
    val spiked = ((1L to 19L).map(i => (i, Array(i.toFloat, 7.0f))) :+
      (20L, Array(1.0e6f, 7.0f))).toDF("vec_id", "embedding")
    val s0 = Similarity.robustStandardize(spiked)
      .filter(col("dim") === 0).as[(Long, Long, Double, Double)]
      .collect().map(r => r._1 -> r._4).toMap
    assert(s0(10L) == 0.0 && math.abs(s0(5L) + 0.5) < 1e-9)
  }

  test("knnGraphLsh: top-k aggregates map-side — no Window over the candidate join") {
    val emb = load("embeddings")
    val df = Similarity.knnGraphLsh(emb, k = 3, planes = 4, dim = 64)
    df.count() // force AQE final plan
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      s"per-src ranking must not run as a window row_number (one hot " +
        s"sign-bucket would become a |bucket|^2-row sort task):\n$p")
    assert(p.contains("partial_topk") || p.contains("ObjectHashAggregate"),
      s"expected the bounded TopK aggregator's partial aggregation:\n$p")
  }

  test("knnGraphLsh fails fast on a non-integral id column (TopK would " +
    "silently skip null-cast ids and return a partial graph)") {
    val emb = load("embeddings").withColumn("vec_id", col("vec_id").cast("string"))
    val e = intercept[IllegalArgumentException] {
      Similarity.knnGraphLsh(emb, k = 3, planes = 4, dim = 64)
    }
    assert(e.getMessage.contains("integral id column"), e.getMessage)
  }

  test("mutualKnnClusters: direction clusters label by min id; singletons self-labeled") {
    val a = Array.fill(64)(0.1f)
    val d = Array.tabulate(64)(i => if (i % 2 == 0) 0.1f else -0.1f)
    val rows = Seq(
      (1L, a), (2L, a.map(_ * 2f)), (3L, a.map(_ * 3f)), // one direction: cos 1
      (10L, d), (11L, d.map(_ * 2f)),                    // orthogonal direction
      (20L, Array.tabulate(64)(i => if (i < 32) 0.1f else -0.1f)) // alone
    ).toDF("vec_id", "embedding")
    val out = Similarity.mutualKnnClusters(rows, k = 2, planes = 4, dim = 64)
      .as[(Long, Long)].collect().toMap
    assert(out(1L) == 1L && out(2L) == 1L && out(3L) == 1L)
    assert(out(10L) == 10L && out(11L) == 10L)
    assert(out(20L) == 20L)
  }

  test("semanticDedup keeps one representative per cosine cluster") {
    val a = Array.fill(64)(0.1f)
    val b = a.map(_ * 2.0f)                                   // same direction: cos = 1
    val c = Array.tabulate(64)(i => if (i % 2 == 0) 0.1f else -0.1f) // orthogonal
    val df = Seq((1L, a, 0), (2L, b, 0), (3L, c, 1)).toDF("vec_id", "embedding", "label")
    val kept = Similarity.semanticDedup(df, threshold = 0.99, planes = 4, dim = 64)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("semanticDedup: hoisted-norm pair filter is value-identical to inline cosine") {
    val emb = load("embeddings")
    val kept = Similarity.semanticDedup(emb, threshold = 0.4, planes = 4, dim = 64)
      .select("vec_id").as[Long].collect().toSet
    // reference: the pre-hoist form, cosine() (dot + both norms)
    // evaluated inline per candidate pair
    val b = Similarity.signBuckets(emb, 4, 64)
    val l = b.select(col("bucket"), col("vec_id").as("doc_a"), col("embedding").as("vec_a"))
    val r = b.select(col("bucket"), col("vec_id").as("doc_b"), col("embedding").as("vec_b"))
    val pairs = l.join(r, Seq("bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(Similarity.cosine(col("vec_a"), col("vec_b")) >= 0.4)
      .select("doc_a", "doc_b")
    val want = Dedup.dedupCorpus(emb, pairs, "vec_id")
      .select("vec_id").as[Long].collect().toSet
    assert(kept == want && kept.nonEmpty)
  }

  test("pqBuildKMeans: valid deterministic codes; trained codebook reconstruction " +
    "error beats the sign-plane codebook") {
    val emb = load("embeddings")
    val det = Similarity.pqBuild(emb)
    val trained = Similarity.pqBuildKMeans(emb)
    val codes = trained.codes.as[(Long, Int, Int)].collect()
    assert(codes.length == emb.count() * 8)
    assert(codes.forall { case (_, m, c) => m >= 0 && m < 8 && c >= 0 && c < 16 })
    // rebuild assigns identical codes (fixed seed, deterministic sample)
    val again = Similarity.pqBuildKMeans(emb).codes.as[(Long, Int, Int)].collect()
    assert(codes.sortBy(r => (r._1, r._2)).toSeq == again.sortBy(r => (r._1, r._2)).toSeq)
    // the point of training: lower mean squared reconstruction error
    // than the deterministic halfspace codebook at the same bit budget
    def mse(i: Similarity.PqIndex) = Similarity.pqReconstructionError(emb, i)
      .agg(avg(col("sq_err"))).as[Double].head()
    val (dm, tm) = (mse(det), mse(trained))
    assert(tm <= dm, s"trained mse $tm worse than deterministic $dm")
  }

  test("ivfPqTopK refine: exact rerank of the ADC shortlist — sims are exact dots, " +
    "hits come from the shortlist") {
    val emb = load("embeddings")
    val ivf = Similarity.ivfBuildDeterministic(emb, planes = 4, dim = 64)
    val pq = Similarity.pqBuild(emb)
    val shortlist = Similarity.ivfPqTopK(emb, ivf, pq, Seq(0L, 1L), k = 16, nProbe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val refined = Similarity.ivfPqTopK(emb, ivf, pq, Seq(0L, 1L), k = 3, nProbe = 3,
        refine = 16)
      .select("query_id", "neighbor_id", "sim")
      .as[(Long, Long, Double)].collect()
    assert(refined.length == 6)
    // refined hits are a subset of the ADC top-16 shortlist
    refined.foreach { case (q, n, _) => assert(shortlist.contains((q, n))) }
    // and each refined sim is the true dot product of the raw vectors
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toMap
    refined.foreach { case (q, n, s) =>
      val exact = vecs(q).zip(vecs(n)).foldLeft(0.0) {
        case (acc, (a, b)) => acc + a.toDouble * b.toDouble
      }
      assert(math.abs(exact - s) < 1e-9)
    }
  }

  test("ivfPqTopK: candidates come only from probed cells; ADC ranking is plausible") {
    val emb = load("embeddings")
    val ivf = Similarity.ivfBuildDeterministic(emb, planes = 4, dim = 64)
    val pq = Similarity.pqBuild(emb)
    val got = Similarity.ivfPqTopK(emb, ivf, pq, Seq(0L, 1L, 2L), k = 5, nProbe = 3)
    val rows = got.select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(rows.nonEmpty && rows.groupBy(_._1).forall(_._2.length <= 5))
    // every neighbor must live in one of its query's 3 probed cells
    val cells = ivf.assigned.select(col("vec_id"), col("__cell"))
      .as[(Long, Int)].collect().toMap
    val probed = Similarity.ivfQuery(ivf, Seq(0L, 1L, 2L), k = 1000, nProbe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(x => cells(x._2)).toSet }
    rows.foreach { case (q, n) => assert(probed(q).contains(cells(n))) }
  }

  test("persisted PQ index: read-back ADC results match in-memory") {
    val emb = load("embeddings")
    val idx = Similarity.pqBuild(emb)
    val dir = java.nio.file.Files.createTempDirectory("graft-pq").toString
    Similarity.pqWrite(idx, dir)
    val back = Similarity.pqRead(spark, dir)
    def run(i: Similarity.PqIndex) =
      Similarity.pqAdcTopK(emb, i, Seq(0L, 1L), k = 3)
        .select("query_id", "neighbor_id", "adc_score")
        .as[(Long, Long, Double)].collect().toSet
    assert(run(back) == run(idx))
  }

  test("ivfBuild trains on a bounded deterministic sample") {
    val emb = load("embeddings")
    import org.apache.spark.ml.functions.array_to_vector
    val vecs = emb.select(col("vec_id"), col("embedding"),
      array_to_vector(col("embedding")).as("__features"))
    // cap binds: exactly `cap` rows, and the same rows every time
    val s1 = Similarity.ivfTrainSample(vecs, 100, "vec_id")
      .select("vec_id").as[Long].collect().toSeq
    val s2 = Similarity.ivfTrainSample(vecs, 100, "vec_id")
      .select("vec_id").as[Long].collect().toSeq
    assert(s1.length == 100 && s1 == s2)
    // cap above the corpus size degrades to the whole corpus
    val n = vecs.count()
    assert(Similarity.ivfTrainSample(vecs, Int.MaxValue, "vec_id").count() == n)
    // a capped build still yields a queryable index with exact sims
    val idx = Similarity.ivfBuild(emb, nLists = 4, maxTrainRows = 200)
    val hits = Similarity.ivfQuery(idx, Seq(0L), k = 3, nProbe = 2)
    assert(hits.count() == 3)
  }

  test("ivfAppendDeterministic: append equals a rebuild on the union, bit for bit") {
    val emb = load("embeddings")
    val a = emb.filter(col("vec_id") % 3 =!= 0)
    val b = emb.filter(col("vec_id") % 3 === 0)
    val appended = Similarity.ivfAppendDeterministic(
      Similarity.ivfBuildDeterministic(a, planes = 4, dim = 64),
      b, planes = 4, dim = 64)
    val rebuilt = Similarity.ivfBuildDeterministic(emb, planes = 4, dim = 64)
    assert(appended.assigned.exceptAll(rebuilt.assigned).isEmpty &&
      rebuilt.assigned.exceptAll(appended.assigned).isEmpty)
    assert(appended.centroids.exceptAll(rebuilt.centroids).isEmpty &&
      rebuilt.centroids.exceptAll(appended.centroids).isEmpty)
  }

  test("ivfAppendWrite: persisted append reads back identical to a rebuild write; " +
       "existing cell files untouched") {
    val emb = load("embeddings")
    val a = emb.filter(col("vec_id") % 3 =!= 0)
    val b = emb.filter(col("vec_id") % 3 === 0)
    val p1 = java.nio.file.Files.createTempDirectory("graft-ivf-append").toString
    val p2 = java.nio.file.Files.createTempDirectory("graft-ivf-rebuild").toString
    Similarity.ivfWrite(
      Similarity.ivfBuildDeterministic(a, planes = 4, dim = 64), p1)
    // snapshot the base corpus's data files before the append
    def dataFiles(root: String) = {
      val base = java.nio.file.Paths.get(root, "assigned")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala
        .filter(f => f.toString.endsWith(".parquet"))
        .map(f => f.toString -> java.nio.file.Files.getLastModifiedTime(f))
        .toMap
    }
    val before = dataFiles(p1)
    Similarity.ivfAppendWrite(p1, b, planes = 4, dim = 64)
    val after = dataFiles(p1)
    assert(before.keySet.subsetOf(after.keySet) &&
      before.forall { case (f, t) => after(f) == t },
      "append must add files, never rewrite existing cell data")
    Similarity.ivfWrite(
      Similarity.ivfBuildDeterministic(emb, planes = 4, dim = 64), p2)
    val (i1, i2) = (Similarity.ivfRead(spark, p1), Similarity.ivfRead(spark, p2))
    val cols = i2.assigned.columns.sorted.toIndexedSeq.map(col)
    assert(i1.assigned.select(cols: _*).exceptAll(i2.assigned.select(cols: _*)).isEmpty &&
      i2.assigned.select(cols: _*).exceptAll(i1.assigned.select(cols: _*)).isEmpty)
    val q1 = Similarity.ivfQuery(i1, Seq(5L, 6L), k = 3, nProbe = 2)
    val q2 = Similarity.ivfQuery(i2, Seq(5L, 6L), k = 3, nProbe = 2)
    assert(q1.exceptAll(q2).isEmpty && q2.exceptAll(q1).isEmpty)
  }

  test("ivfDeleteWrite + ivfCompactDeletes: delete ≡ rebuild on survivors; " +
       "tombstones filter probes immediately; untouched cells' files keep") {
    val emb = load("embeddings")
    val dead = emb.filter(col("vec_id") % 7 === 3)
    val survivors = emb.filter(col("vec_id") % 7 =!= 3)
    val p1 = java.nio.file.Files.createTempDirectory("graft-ivf-del").toString
    val p2 = java.nio.file.Files.createTempDirectory("graft-ivf-surv").toString
    Similarity.ivfWrite(
      Similarity.ivfBuildDeterministic(emb, planes = 4, dim = 64), p1)
    Similarity.ivfDeleteWrite(p1, dead.select("vec_id"))
    // BEFORE compaction: tombstones already hide deleted vectors
    val pre = Similarity.ivfRead(spark, p1)
    assert(pre.assigned.join(dead.select("vec_id"), Seq("vec_id"), "left_semi").isEmpty,
      "a tombstoned vector must not be served")
    Similarity.ivfCompactDeletes(spark, p1)
    Similarity.ivfWrite(
      Similarity.ivfBuildDeterministic(survivors, planes = 4, dim = 64), p2)
    // compacted assigned rows ≡ rebuild-on-survivors rows
    val (i1, i2) = (Similarity.ivfRead(spark, p1), Similarity.ivfRead(spark, p2))
    val cols = i2.assigned.columns.sorted.toIndexedSeq.map(col)
    assert(i1.assigned.select(cols: _*).exceptAll(i2.assigned.select(cols: _*)).isEmpty &&
      i2.assigned.select(cols: _*).exceptAll(i1.assigned.select(cols: _*)).isEmpty)
    // partials and centroids bit-identical to the survivor rebuild
    // (exact long subtraction: partials(all) − partials(dead))
    // layout-agnostic side-table readers (the on-disk layout is
    // internal; the row contract is what compaction must preserve)
    def table(p: String, t: String) =
      if (t == "partials") Similarity.readPartials(spark, p)
      else Similarity.readCentroids(spark, p)
    assert(table(p1, "partials").exceptAll(table(p2, "partials")).isEmpty &&
      table(p2, "partials").exceptAll(table(p1, "partials")).isEmpty,
      "compacted partials must equal the survivor rebuild's")
    assert(table(p1, "centroids").exceptAll(table(p2, "centroids")).isEmpty &&
      table(p2, "centroids").exceptAll(table(p1, "centroids")).isEmpty)
    // probes agree, tombstones cleared
    val q1 = Similarity.ivfQuery(i1, Seq(5L, 6L), k = 3, nProbe = 2)
    val q2 = Similarity.ivfQuery(i2, Seq(5L, 6L), k = 3, nProbe = 2)
    assert(q1.exceptAll(q2).isEmpty && q2.exceptAll(q1).isEmpty)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(p1, "tombstones")))
  }

  test("ivfCompactDeletes on a TRAINED index keeps the KMeans centroids frozen " +
       "and maintains the partials invariant") {
    val emb = load("embeddings")
    val p = java.nio.file.Files.createTempDirectory("graft-ivf-del-trained").toString
    Similarity.ivfWrite(Similarity.ivfBuild(emb, nLists = 4), p)
    val centBefore = Similarity.readCentroids(spark, p).collect().toSet
    Similarity.ivfDeleteWrite(p, emb.filter(col("vec_id") % 11 === 0).select("vec_id"))
    Similarity.ivfCompactDeletes(spark, p)
    // FAISS remove_ids semantics: deletion never retrains the quantizer
    assert(Similarity.readCentroids(spark, p).collect().toSet == centBefore,
      "compaction must not touch a trained index's centroids")
    // but the partials invariant tracks the surviving rows exactly
    val want = spark.read.parquet(s"$p/assigned")
      .withColumn("__cell", col("__cell").cast("int"))
    val wantPartials = Similarity.centroidPartials(want, "embedding").collect().toSet
    assert(Similarity.readPartials(spark, p).collect().toSet == wantPartials)
  }

  test("ivfCompactDeletes drops a tombstoned row with a null or empty embedding") {
    // such rows have no centroid partials, so only the dead rows' own
    // cells can say which cell files to rewrite
    val emb = load("embeddings")
    val vec = emb.schema("embedding").dataType
    val p = java.nio.file.Files.createTempDirectory("graft-ivf-del-empty").toString
    Similarity.ivfWrite(Similarity.ivfBuildDeterministic(
      emb.withColumn("embedding",
        when(col("vec_id") =!= 3L, col("embedding")).otherwise(lit(null).cast(vec))),
      planes = 4, dim = 64), p)
    // the build rejects an empty embedding (dot_product lengths), so
    // that row lands in a cell directly, as a foreign writer could
    Similarity.ivfRead(spark, p).assigned.filter(col("vec_id") === 4L)
      .withColumn("vec_id", lit(100000L))
      .withColumn("embedding", array().cast(vec))
      .localCheckpoint()
      .write.mode("append").partitionBy("__cell").parquet(s"$p/assigned")
    Similarity.ivfDeleteWrite(p, Seq(3L, 100000L).toDF("vec_id"))
    Similarity.ivfCompactDeletes(spark, p)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(p, "tombstones")))
    val assigned = Similarity.ivfRead(spark, p).assigned
    val left = assigned.filter(col("vec_id").isin(3L, 100000L)).count()
    assert(left == 0, s"$left tombstoned rows came back after compaction")
    assert(assigned.count() == emb.count() - 1)
  }

  test("ivfDeleteWrite renames any id column; compaction rejects a foreign one") {
    val emb = load("embeddings")
    val p = java.nio.file.Files.createTempDirectory("graft-ivf-del-col").toString
    Similarity.ivfWrite(Similarity.ivfBuildDeterministic(
      emb, planes = 4, dim = 64), p)
    // a caller with a differently-named id column cannot splinter the
    // tombstone schema — the write renames to the index's id column
    Similarity.ivfDeleteWrite(p,
      emb.filter(col("vec_id") === 1L).select(col("vec_id").as("id")))
    assert(spark.read.parquet(s"$p/tombstones").columns.toSeq == Seq("vec_id"))
    assert(Similarity.ivfRead(spark, p).assigned
      .filter(col("vec_id") === 1L).isEmpty)
  }

  test("ivfAppendWrite: centroid refresh is O(batch) — never reads pre-existing " +
       "cell data (append succeeds with the base corpus files corrupted)") {
    val emb = load("embeddings")
    val a = emb.filter(col("vec_id") % 3 =!= 0)
    val b = emb.filter(col("vec_id") % 3 === 0)
    val p = java.nio.file.Files.createTempDirectory("graft-ivf-obatch").toString
    Similarity.ivfWrite(
      Similarity.ivfBuildDeterministic(a, planes = 4, dim = 64), p)
    // overwrite every pre-existing cell data file with garbage: if the
    // append's centroid refresh scanned the corpus (instead of merging
    // the persisted partials), it would die on these
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(p, "assigned"))
      .iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .foreach(f => java.nio.file.Files.write(f,
        "not a parquet file".getBytes("UTF-8")))
    Similarity.ivfAppendWrite(p, b, planes = 4, dim = 64)
    val refreshed = Similarity.readCentroids(spark, p)
    val rebuilt = Similarity.ivfBuildDeterministic(emb, planes = 4, dim = 64)
      .centroids
    assert(refreshed.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(refreshed).isEmpty,
      "merged partials must refresh centroids bit-identical to a rebuild")
  }

  test("quantizer-kind guards: mixing append semantics across index kinds is refused") {
    val emb = load("embeddings")
    val det = Similarity.ivfBuildDeterministic(emb, planes = 3, dim = 64)
    val tr = Similarity.ivfBuild(emb, nLists = 4)
    intercept[IllegalArgumentException] {
      Similarity.ivfAppendTrained(det, emb)
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfAppendDeterministic(tr, emb, planes = 3, dim = 64)
    }
    val p1 = java.nio.file.Files.createTempDirectory("graft-ivf-guard1").toString
    Similarity.ivfWrite(tr, p1)
    intercept[IllegalArgumentException] {
      Similarity.ivfAppendWrite(p1, emb, planes = 3, dim = 64)
    }
    val p2 = java.nio.file.Files.createTempDirectory("graft-ivf-guard2").toString
    Similarity.ivfWrite(det, p2)
    intercept[IllegalArgumentException] {
      Similarity.ivfAppendWriteTrained(p2, emb)
    }
  }

  test("ivfAppendTrained (FAISS add): batch assigns to the nearest existing " +
    "centroid, centroids frozen; probe spans old and new rows") {
    val emb = load("embeddings")
    val a = emb.filter(col("vec_id") % 3 =!= 0)
    val b = emb.filter(col("vec_id") % 3 === 0)
    val idx = Similarity.ivfBuild(a, nLists = 4)
    val app = Similarity.ivfAppendTrained(idx, b)
    assert(app.centroids.exceptAll(idx.centroids).isEmpty &&
      idx.centroids.exceptAll(app.centroids).isEmpty, "centroids must not move")
    assert(app.assigned.count() == emb.count())
    // JVM reference: argmin of c·c − 2x·c (same left-fold dot order),
    // ties to the lowest cell id
    val cents = idx.centroids.select("__cell", "__centroid")
      .as[(Int, Seq[Double])].collect().sortBy(_._1)
    def fold(xs: Seq[Double]): Double = xs.foldLeft(0.0)(_ + _)
    val got = app.assigned.filter(col("vec_id") % 3 === 0)
      .select("vec_id", "__cell").as[(Long, Int)].collect().toMap
    b.select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
      .foreach { case (id, v) =>
        val best = cents.map { case (c, ct) =>
          val cc = ct.foldLeft(0.0)((acc, x) => acc + x * x)
          val xc = ct.zip(v).foldLeft(0.0) { case (acc, (ci, xi)) =>
            acc + ci * xi.toDouble }
          (c, cc - 2.0 * xc)
        }.minBy { case (c, d) => (d, c) }._1
        assert(got(id) == best, s"vector $id assigned to ${got(id)}, want $best")
      }
    val hits = Similarity.ivfQuery(app, Seq(0L, 3L), k = 3, nProbe = 2)
    assert(hits.count() == 6)
  }

  test("ivfAppendWriteTrained: persisted add leaves centroid files and existing " +
    "cell data untouched; the partials side table stays consistent") {
    val emb = load("embeddings")
    val a = emb.filter(col("vec_id") % 3 =!= 0)
    val b = emb.filter(col("vec_id") % 3 === 0)
    val p = java.nio.file.Files.createTempDirectory("graft-ivf-add").toString
    Similarity.ivfWrite(Similarity.ivfBuild(a, nLists = 4), p)
    def files(sub: String) = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(p, sub)).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(f => f.toString -> java.nio.file.Files.getLastModifiedTime(f))
        .toMap
    }
    val centBefore = Similarity.readCentroids(spark, p).collect().toSet
    val dataBefore = files("assigned")
    Similarity.ivfAppendWriteTrained(p, b)
    // FAISS add semantics: the quantizer never retrains — the stored
    // centroid rows are carried forward identical (the meta layout
    // rewrites the kilobyte side file, so the check is on rows)
    assert(Similarity.readCentroids(spark, p).collect().toSet == centBefore,
      "centroid rows must be untouched")
    val dataAfter = files("assigned")
    assert(dataBefore.keySet.subsetOf(dataAfter.keySet) &&
      dataBefore.forall { case (f, t) => dataAfter(f) == t },
      "add must append cell files, never rewrite")
    val idx = Similarity.ivfRead(spark, p)
    assert(idx.assigned.count() == emb.count())
    // partials ≡ centroidPartials(assigned) even on the trained path
    val stored = Similarity.readPartials(spark, p)
    val recomputed = Similarity.centroidPartials(
      idx.assigned.withColumn("__cell", col("__cell").cast("int")), "embedding")
    assert(stored.exceptAll(recomputed).isEmpty &&
      recomputed.exceptAll(stored).isEmpty)
  }

  test("a torn IVF index (meta deleted) fails loudly: trained append, " +
    "deterministic append and compaction all raise and rewrite nothing") {
    val emb = load("embeddings")
    val a = emb.filter(col("vec_id") % 3 =!= 0)
    val b = emb.filter(col("vec_id") % 3 === 0)
    val p = java.nio.file.Files.createTempDirectory("graft-ivf-torn").toString
    Similarity.ivfWrite(Similarity.ivfBuild(a, nLists = 4), p)
    Similarity.ivfDeleteWrite(p, b.select("vec_id").limit(1))
    val meta = new java.io.File(p, "meta")
    org.apache.commons.io.FileUtils.deleteDirectory(meta)
    def assignedFiles() = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(p, "assigned"))
        .iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(_.toString).toSet
    }
    val before = assignedFiles()
    val calls = Seq[(String, () => Unit)](
      "ivfAppendWriteTrained" -> (() => Similarity.ivfAppendWriteTrained(p, b)),
      "ivfAppendWrite" -> (() => Similarity.ivfAppendWrite(p, b, planes = 4, dim = 64)),
      "ivfCompactDeletes" -> (() => Similarity.ivfCompactDeletes(spark, p)))
    for ((name, call) <- calls) {
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.contains(s"$p/meta"), s"$name: ${e.getMessage}")
      assert(!meta.exists(), s"$name wrote a meta dataset")
      assert(assignedFiles() == before, s"$name touched the corpus")
    }
    assert(Similarity.ivfIndexExists(spark, p),
      "a torn index still exists, so IndexStream appends to it and raises")
  }

  test("the IVF meta write survives a crash between any two of its steps: " +
    "the old or the new meta stays readable, and a rerun completes it") {
    val emb = load("embeddings")
    val dead = emb.filter(col("vec_id") % 5 === 0).select("vec_id")
    def fresh(): String = {
      val p = java.nio.file.Files.createTempDirectory("graft-ivf-crash").toString
      Similarity.ivfWrite(Similarity.ivfBuildDeterministic(emb, planes = 4, dim = 64), p)
      Similarity.ivfDeleteWrite(p, dead)
      p
    }
    def state(p: String) = (Similarity.readCentroids(spark, p).collect().toSet,
      Similarity.quantizerKind(spark, p))
    // a clean compaction: the meta before and after it
    val clean = fresh()
    val before = state(clean)
    Similarity.ivfCompactDeletes(spark, clean)
    val after = state(clean)
    assert(before != after, "the compaction must move the centroids")
    object Crash extends RuntimeException
    for (step <- 1 to 4) {
      val p = fresh()
      Similarity.afterMetaStep = s => if (s == step) throw Crash
      try intercept[Crash.type](Similarity.ivfCompactDeletes(spark, p))
      finally Similarity.afterMetaStep = _ => ()
      // steps 1-3 leave the old meta (in meta or meta.prev), 4 the new
      assert(state(p) == (if (step < 4) before else after), s"crash after step $step")
      // the tombstones outlive the crash; the rerun rebuilds the
      // partials from the rewritten corpus and swaps its meta in
      Similarity.ivfCompactDeletes(spark, p)
      assert(state(p) == after, s"rerun after a crash at step $step")
      for (left <- Seq("meta.next", "meta.prev"))
        assert(!new java.io.File(p, left).exists(), s"step $step left $left")
    }
  }

  test("deterministic IVF: cells are the sign buckets; hits are real neighbors with exact sims") {
    val emb = load("embeddings")
    val idx = Similarity.ivfBuildDeterministic(emb, planes = 3, dim = 64)
    // cell assignment IS the sign-LSH bucket family (what makes the
    // pipeline SQL-expressible)
    val cells = idx.assigned.select("vec_id", "__cell")
      .as[(Long, Int)].collect().toMap
    val buckets = Similarity.signBuckets(emb, 3, 64)
      .select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    assert(cells.forall { case (id, c) => buckets(id) == c.toLong })
    // centroids: one per non-empty cell, dim-length, finite values
    val cents = idx.centroids.select("__cell", "__centroid")
      .as[(Int, Seq[Double])].collect()
    assert(cents.map(_._1).toSet == cells.values.toSet)
    assert(cents.forall(_._2.length == 64))
    val ivf = Similarity.ivfQuery(idx, Seq(0L, 1L), k = 3, nProbe = 2)
      .select("query_id", "neighbor_id", "sim").as[(Long, Long, Double)].collect()
    assert(ivf.nonEmpty)
    assert(ivf.forall { case (q, n, _) => q != n })
    val exact = Similarity.cosineTopK(emb.filter(col("vec_id") <= 1), emb, k = 500)
      .select("query_id", "neighbor_id", "sim").as[(Long, Long, Double)]
      .collect().map { case (q, n, s) => (q, n) -> s }.toMap
    ivf.foreach { case (q, n, s) => assert(exact((q, n)) == s) }
  }

  test("persisted IVF index: read-back query matches in-memory; cell filter prunes partitions") {
    val emb = load("embeddings")
    val idx = Similarity.ivfBuild(emb, nLists = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    Similarity.ivfWrite(idx, dir)
    val back = Similarity.ivfRead(spark, dir)
    def run(i: Similarity.IvfIndex) =
      Similarity.ivfQuery(i, Seq(0L, 1L), k = 3, nProbe = 2)
        .select("query_id", "neighbor_id", "sim")
        .as[(Long, Long, Double)].collect().toSet
    assert(run(back) == run(idx))
    // the property that pays at 100 TB: a probed-cell read scans only
    // that cell's directory
    val probe = back.assigned.filter(col("__cell") === 1)
    probe.count()
    val p = probe.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(__cell"),
      s"expected a partition-pruned scan in:\n$p")
  }

  test("signBuckets is deterministic across invocations") {
    val emb = load("embeddings").limit(50)
    val b1 = Similarity.signBuckets(emb, 4, 64).select("vec_id", "bucket").collect().toSeq
    val b2 = Similarity.signBuckets(emb, 4, 64).select("vec_id", "bucket").collect().toSeq
    assert(b1 == b2)
  }

  test("randomProject: one row per (vector, output dim); values are the plane dots") {
    val emb = load("embeddings").limit(10)
    val out = Similarity.randomProject(emb, outDim = 8, dim = 64)
      .as[(Long, Long, Double)].collect()
    assert(out.length == 80)
    // cross-check one projection against an explicit dot product
    val plane0 = Similarity.planeFamily(8, 64).head
    val v0 = emb.filter(col("vec_id") === out.head._1)
      .select("embedding").as[Seq[Float]].head()
    val expect = v0.zip(plane0).foldLeft(0.0) { case (a, (x, p)) => a + x.toDouble * p }
    val got = out.find(r => r._1 == out.head._1 && r._2 == 0L).get._3
    assert(got == expect)
  }

  test("knnClassify: a clustered toy set classifies by its cluster's majority label") {
    // two orthogonal clusters: ids 0-3 near (1,0), labeled 0 (query 0 unlabeled
    // ground truth irrelevant); ids 4-7 near (0,1), labeled 1
    val rows = Seq(
      (0L, Seq(1.0f, 0.0f), 0), (1L, Seq(0.99f, 0.1f), 0),
      (2L, Seq(0.98f, 0.2f), 0), (3L, Seq(0.97f, 0.15f), 0),
      (4L, Seq(0.0f, 1.0f), 1), (5L, Seq(0.1f, 0.99f), 1),
      (6L, Seq(0.2f, 0.98f), 1), (7L, Seq(0.15f, 0.97f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.knnClassify(rows, queryIds = Seq(0L, 4L), k = 3)
      .as[(Long, Int, Int, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(0L)._3 == 0 && out(0L)._4 == 3L) // all 3 NNs from cluster 0
    assert(out(4L)._3 == 1 && out(4L)._4 == 3L)
  }

  test("knnClassify ties break toward the smallest label") {
    // query 0 equidistant from one doc of each label → k=2 splits 1-1
    val rows = Seq(
      (0L, Seq(1.0f, 1.0f), 9),
      (1L, Seq(1.0f, 0.0f), 5),
      (2L, Seq(0.0f, 1.0f), 3))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.knnClassify(rows, queryIds = Seq(0L), k = 2)
      .as[(Long, Int, Int, Long)].collect()
    assert(out.head._3 == 3 && out.head._4 == 1L)
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("sniffFormat: ftyp split by brand, RIFF by form tag, data-lake " +
    "magics, unknown fallback") {
    def b(hx: String) = hx.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val d = Seq(
      (1L, b("0000001C6674797068656963")),            // ftyp heic
      (2L, b("000000186674797069736F32")),            // ftyp iso2 -> mp4
      (3L, b("52494646AAAAAAAA57454250")),            // RIFF WEBP
      (4L, b("4F626A0102")),                          // avro
      (7L, b("4F67675300020000")),                     // OggS
      (8L, b("1A45DFA3400D4286400101428240047765626D")), // EBML webm
      (9L, b("1A45DFA340114286400101428240086D6174726F736B61")), // mkv
      (5L, "WARC/1.1 junk".getBytes("ISO-8859-1")),
      (6L, b("DEADBEEF"))
    ).toDF("media_id", "payload")
    val out = d.select(col("media_id"),
      Multimodal.sniffFormat(col("payload")).as("f")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "heif", 2L -> "mp4", 3L -> "webp",
      4L -> "avro", 5L -> "warc", 6L -> "unknown", 7L -> "ogg",
      8L -> "webm", 9L -> "mkv"))
  }

  test("svgMeta: unit suffixes stripped, viewBox-only documents, " +
    "comma-separated viewBox, non-SVG null struct") {
    val d = Seq(
      (1L, "<svg width=\"120px\" height=\"80\"></svg>"),
      (2L, "<?xml?><svg viewBox=\"0,0,640,480\"/>"),
      (3L, "<p>plain</p>")
    ).toDF("doc_id", "text")
    val out = d.select(col("doc_id"),
      Multimodal.svgMeta(col("text")).as("m")).collect()
      .map(r => r.getLong(0) -> r).toMap
    val m1 = out(1L).getStruct(1)
    assert(m1.getDouble(0) == 120.0 && m1.getDouble(1) == 80.0 &&
      m1.isNullAt(2))
    val m2 = out(2L).getStruct(1)
    assert(m2.isNullAt(0) && m2.getStruct(2).getDouble(2) == 640.0 &&
      m2.getStruct(2).getDouble(3) == 480.0)
    assert(out(3L).isNullAt(1))
  }

  test("pdfMeta: version/object/page census, /Pages excluded, /Encrypt " +
    "and %%EOF flags; non-PDF null") {
    val pdf = "%PDF-1.7\n1 0 obj\n<</Type /Pages /Kids[2 0 R]>>\nendobj\n" +
      "2 0 obj\n<</Type /Page>>\nendobj\n3 0 obj\n<</Type/Page>>\nendobj\n" +
      "trailer\n%%EOF"
    val d = Seq((1L, pdf.getBytes("ISO-8859-1")),
      (2L, "not a pdf".getBytes("ISO-8859-1"))).toDF("media_id", "payload")
    val out = d.select(col("media_id"),
      Multimodal.pdfMeta(col("payload")).as("m")).collect()
      .map(r => r.getLong(0) -> r).toMap
    val m = out(1L).getStruct(1)
    assert(m.getString(0) == "1.7")
    assert(m.getLong(1) == 3L)  // endobj count
    assert(m.getLong(2) == 2L)  // /Type /Page + /Type/Page, not /Pages
    assert(!m.getBoolean(3) && m.getBoolean(4))
    assert(out(2L).isNullAt(1))
  }

  test("zipMeta: stored-entry walk to the central directory; data " +
    "descriptor stops incomplete; empty archive (EOCD start) is null") {
    def le(v: Int, n: Int) =
      (0 until n).map(i => ((v >> (8 * i)) & 0xFF).toByte).toArray
    def entry(name: String, data: String, flags: Int = 0): Array[Byte] =
      Array[Byte](0x50, 0x4B, 3, 4) ++ le(20, 2) ++ le(flags, 2) ++
        le(0, 2) ++ le(0, 4) ++ le(0, 4) ++ le(data.length, 4) ++
        le(data.length, 4) ++ le(name.length, 2) ++ le(0, 2) ++
        name.getBytes("ISO-8859-1") ++ data.getBytes("ISO-8859-1")
    val cd = Array[Byte](0x50, 0x4B, 1, 2)
    val good = entry("word/document.xml", "HELLO") ++
      entry("word/styles.xml", "abc") ++ cd
    val dd = entry("a.txt", "x", flags = 8) ++ cd
    val eocd = Array[Byte](0x50, 0x4B, 5, 6) ++ new Array[Byte](18)
    val d = Seq((1L, good), (2L, dd), (3L, eocd)).toDF("media_id", "payload")
    val out = d.select(col("media_id"),
      Multimodal.zipMeta(col("payload")).as("m")).collect()
      .map(r => r.getLong(0) -> r).toMap
    val m = out(1L).getStruct(1)
    assert(m.getLong(0) == 2L && m.getBoolean(1))
    assert(m.getString(2) == "word/document.xml")
    assert(m.getLong(3) == 8L && m.getString(4) == "docx")
    val d2 = out(2L).getStruct(1)
    assert(d2.getLong(0) == 0L && !d2.getBoolean(1)) // descriptor: stop
    assert(out(3L).isNullAt(1))
  }

  test("gzipMeta: FEXTRA skipped before FNAME, flags decoded, " +
    "no-FNAME null; non-gzip null") {
    def le(v: Long, n: Int) =
      (0 until n).map(i => ((v >> (8 * i)) & 0xFF).toByte).toArray
    def hdr(flg: Int, os: Int) =
      Array[Byte](0x1F.toByte, 0x8B.toByte, 8, flg.toByte) ++
        le(123456789L, 4) ++ Array[Byte](0, os.toByte)
    // FEXTRA(4) + FNAME(8) + FTEXT(1): xlen=3 extra, then name + NUL
    val withAll = hdr(13, 3) ++ le(3, 2) ++ Array[Byte](9, 9, 9) ++
      "hello.txt".getBytes("ISO-8859-1") ++ Array[Byte](0) ++
      Array[Byte](0x42, 0x42)
    val bare = hdr(0, 255) ++ Array[Byte](0x42)
    val d = Seq((1L, withAll), (2L, bare),
      (3L, "zz".getBytes("ISO-8859-1"))).toDF("media_id", "payload")
    val out = d.select(col("media_id"),
      Multimodal.gzipMeta(col("payload")).as("m")).collect()
      .map(r => r.getLong(0) -> r).toMap
    val m = out(1L).getStruct(1)
    assert(m.getInt(0) == 8 && m.getLong(1) == 123456789L && m.getInt(2) == 3)
    assert(m.getBoolean(3) && m.getString(4) == "hello.txt")
    val b = out(2L).getStruct(1)
    assert(b.getInt(2) == 255 && !b.getBoolean(3) && b.isNullAt(4))
    assert(out(3L).isNullAt(1))
  }

  test("jpegMeta walks the marker-segment chain: JFIF APP0 + EXIF-sized " +
    "segments skipped, SOF parsed; malformed/non-JPEG payloads yield null") {
    import spark.implicits._
    def hexBytes(h: String): Array[Byte] =
      h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // realistic JFIF: SOI, APP0 (16 bytes), big COM, DQT, SOF2
    // (progressive), EOI — width 0x0280=640, height 0x01E0=480, 3 comps
    val jfif = hexBytes("FFD8" +
      "FFE000104A46494600010101006000600000" +
      "FFFE0020" + "41" * 30 +
      "FFDB0005000000" +
      "FFC2001108" + "01E0" + "0280" + "03010011020011030011" +
      "FFD9")
    val truncated = hexBytes("FFD8FFE000104A46494600")        // dies mid-APP0
    val sosFirst = hexBytes("FFD8FFDA0008000000000000")       // entropy before SOF
    val notJpeg = hexBytes("89504E470D0A1A0A0000000D49484452")
    val rows = Seq((1L, jfif), (2L, truncated), (3L, sosFirst), (4L, notJpeg))
      .toDF("media_id", "payload")
    val got = Multimodal.containerMeta(rows)
      .select(col("media_id"), col("jpeg.width"), col("jpeg.height"),
        col("jpeg.precision"), col("jpeg.n_components"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))))
      .toMap
    assert(got(1L).contains((640, 480, 8, 3)))
    assert(got(2L).isEmpty && got(3L).isEmpty && got(4L).isEmpty)
  }

  test("gif/webp/tiff meta: all variants parse; truncated, bad start " +
    "codes, and empty IFDs yield null structs") {
    import spark.implicits._
    def hexBytes(h: String): Array[Byte] =
      h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val rows = Seq(
      (1L, "474946383961" + "8002" + "E001" + "F70000"),          // GIF89a 640x480
      (2L, "524946462400000057454250" + "565038580A000000" +
           "00000000" + "7F0200" + "DF0100"),                      // VP8X 640x480
      (3L, "524946462400000057454250" + "565038200A000000" +
           "000000" + "9D012A" + "8002" + "E001"),                  // VP8 640x480
      (4L, "524946462400000057454250" + "5650384C05000000" +
           "2F" + "7FC27700"), // VP8L: (639) | (479<<14) = 0x77C27F -> LE 7F C2 77 00
      (5L, "49492A00" + "08000000" + "0200" +
           "0001" + "0300" + "01000000" + "80020000" +
           "0101" + "0400" + "01000000" + "E0010000" + "00000000"), // TIFF II
      (6L, "524946462400000057454250" + "565038200A000000" +
           "000000" + "9D012B" + "8002" + "E001"),                  // bad start code
      (7L, "49492A00" + "08000000" + "0000" + "00000000"),          // empty IFD
      (8L, "4749463839")                                            // truncated GIF sig
    ).map { case (id, h) => (id, hexBytes(h)) }.toDF("media_id", "payload")
    val got = Multimodal.containerMeta(rows)
      .selectExpr("media_id",
        "coalesce(gif.width, webp.width, tiff.width) AS w",
        "coalesce(gif.height, webp.height, tiff.height) AS h",
        "coalesce(gif.version, webp.variant, tiff.byte_order) AS v")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getInt(1), r.getInt(2), r.getString(3)))))
      .toMap
    assert(got(1L).contains((640, 480, "89a")))
    assert(got(2L).contains((640, 480, "vp8x")))
    assert(got(3L).contains((640, 480, "vp8")))
    assert(got(4L).contains((640, 480, "vp8l")))
    assert(got(5L).contains((640, 480, "II")))
    assert(got(6L).isEmpty && got(7L).isEmpty && got(8L).isEmpty)
  }

  test("media schema carries binary payload + typed metadata") {
    val media = Multimodal.fromDocuments(load("documents"))
    assert(media.schema("payload").dataType.typeName == "binary")
    assert(media.schema("meta").dataType.typeName == "struct")
    assert(media.count() == load("documents").count())
  }

  test("stubbed feature extraction: 16-bin normalized histogram per row") {
    val media = Multimodal.fromDocuments(load("documents").limit(20))
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == 20)
    feats.foreach { r =>
      val f = r.getAs[scala.collection.Seq[Double]]("features")
      assert(f.length == 16)
      assert(math.abs(f.sum - 1.0) < 1e-9) // normalized
    }
  }

  test("stubbed frame sampling strides the payload") {
    val media = Multimodal.fromDocuments(load("documents").limit(5))
    val s = Multimodal.frameSample(media, stride = 10).collect()
    s.foreach { r =>
      val n = r.getAs[Array[Byte]]("payload").length
      assert(r.getAs[Long]("n_sampled") == (n + 9) / 10)
    }
  }

  private def be(v: Long, len: Int): Array[Byte] =
    (len - 1 to 0 by -1).map(i => ((v >> (8 * i)) & 0xff).toByte).toArray
  private def le(v: Long, len: Int): Array[Byte] =
    (0 until len).map(i => ((v >> (8 * i)) & 0xff).toByte).toArray

  test("containerMeta parses real PNG IHDR and WAV fmt headers; other payloads null") {
    import spark.implicits._
    // a genuine minimal PNG header: signature + IHDR(640×480, 8-bit RGB)
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      be(13, 4) ++ "IHDR".getBytes ++ be(640, 4) ++ be(480, 4) ++
      Array[Byte](8, 2, 0, 0, 0)
    // a genuine canonical WAV header: RIFF/WAVE + 16-byte PCM fmt chunk
    // (stereo, 44.1 kHz, 16-bit)
    val wav = "RIFF".getBytes ++ le(36, 4) ++ "WAVEfmt ".getBytes ++
      le(16, 4) ++ le(1, 2) ++ le(2, 2) ++ le(44100, 4) ++
      le(176400, 4) ++ le(4, 2) ++ le(16, 2)
    // PNG signature but no IHDR behind it: must yield a null struct,
    // not garbage width/height parsed from whatever bytes follow
    val truncated = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      "JUNKJUNKJUNKJUNKJUNK".getBytes
    val media = Seq(
      (1L, png), (2L, wav), (3L, "not media at all".getBytes), (4L, truncated))
      .toDF("media_id", "payload")
    val out = Multimodal.containerMeta(media).orderBy("media_id").collect()
    assert(out(3).isNullAt(out(3).fieldIndex("png")))
    val p = out(0).getAs[org.apache.spark.sql.Row]("png")
    assert(p.getAs[Int]("width") == 640 && p.getAs[Int]("height") == 480)
    assert(p.getAs[Int]("bit_depth") == 8 && p.getAs[Int]("color_type") == 2)
    assert(out(0).isNullAt(out(0).fieldIndex("wav")))
    val w = out(1).getAs[org.apache.spark.sql.Row]("wav")
    assert(w.getAs[Int]("audio_format") == 1 && w.getAs[Int]("channels") == 2)
    assert(w.getAs[Int]("sample_rate") == 44100 && w.getAs[Int]("bits_per_sample") == 16)
    assert(out(1).isNullAt(out(1).fieldIndex("png")))
    assert(out(2).isNullAt(out(2).fieldIndex("png")) &&
      out(2).isNullAt(out(2).fieldIndex("wav")))
  }

  test("mp4Meta: box walk recovers brand, mvhd timescale/duration (v0+v1), " +
    "tkhd pixel dims; truncated boxes and non-mp4 payloads stay null") {
    import spark.implicits._
    def box(tag: String, body: Array[Byte]): Array[Byte] =
      be(body.length + 8, 4) ++ tag.getBytes ++ body
    val ftyp = box("ftyp", "isom".getBytes ++ be(0x200, 4))
    def mvhd0(ts: Long, dur: Long) = box("mvhd",
      Array[Byte](0, 0, 0, 0) ++ be(0, 4) ++ be(0, 4) ++ be(ts, 4) ++
        be(dur, 4) ++ Array.fill[Byte](80)(0))
    def mvhd1(ts: Long, dur: Long) = box("mvhd",
      Array[Byte](1, 0, 0, 0) ++ be(0, 8) ++ be(0, 8) ++ be(ts, 4) ++
        be(dur, 8) ++ Array.fill[Byte](80)(0))
    def tkhd0(w: Long, h: Long) = box("tkhd",
      Array[Byte](0, 0, 0, 7) ++ be(0, 4) ++ be(0, 4) ++ be(1, 4) ++
        be(0, 4) ++ be(0, 4) ++ Array.fill[Byte](16)(0) ++
        Array.fill[Byte](36)(0) ++ be(w, 2) ++ be(0, 2) ++ be(h, 2) ++ be(0, 2))
    def tkhd1(w: Long, h: Long) = box("tkhd",
      Array[Byte](1, 0, 0, 7) ++ be(0, 8) ++ be(0, 8) ++ be(1, 4) ++
        be(0, 4) ++ be(0, 8) ++ Array.fill[Byte](16)(0) ++
        Array.fill[Byte](36)(0) ++ be(w, 2) ++ be(0, 2) ++ be(h, 2) ++ be(0, 2))
    val free = box("free", Array.fill[Byte](3)(0))
    // v0 layouts, plus a free box the walk must step over
    val f0 = ftyp ++ free ++
      box("moov", mvhd0(1000, 90000) ++ box("trak", tkhd0(1920, 1080)))
    // v1 layouts; duration deliberately > 2^32 to exercise the 64-bit read
    val big = (1L << 32) + 5L
    val f1 = ftyp ++ box("moov", mvhd1(600, big) ++ box("trak", tkhd1(640, 360)))
    // moov announced but its children cut off mid-box
    val trunc = (ftyp ++ box("moov", mvhd0(1000, 90000))).dropRight(90)
    val media = Seq(
      (1L, f0), (2L, f1), (3L, trunc), (4L, "not media at all".getBytes))
      .toDF("media_id", "payload")
    val out = Multimodal.containerMeta(media, Seq("mp4"))
      .orderBy("media_id").collect()
    val m0 = out(0).getAs[org.apache.spark.sql.Row]("mp4")
    assert(m0.getAs[String]("brand") == "isom")
    assert(m0.getAs[Long]("timescale") == 1000L && m0.getAs[Long]("duration") == 90000L)
    assert(m0.getAs[Int]("width") == 1920 && m0.getAs[Int]("height") == 1080)
    val m1 = out(1).getAs[org.apache.spark.sql.Row]("mp4")
    assert(m1.getAs[Long]("timescale") == 600L && m1.getAs[Long]("duration") == big)
    assert(m1.getAs[Int]("width") == 640 && m1.getAs[Int]("height") == 360)
    val m2 = out(2).getAs[org.apache.spark.sql.Row]("mp4")
    assert(m2.getAs[String]("brand") == "isom",
      "ftyp is intact, so the brand still parses")
    assert(m2.isNullAt(m2.fieldIndex("timescale")) &&
      m2.isNullAt(m2.fieldIndex("width")),
      "truncated mvhd/tkhd must yield null fields, not garbage")
    assert(out(3).isNullAt(out(3).fieldIndex("mp4")))
  }

  test("heifMeta: ispe dims behind the meta full-box descent; wrong brand " +
    "and truncated chains stay null") {
    import spark.implicits._
    def box(tag: String, body: Array[Byte]): Array[Byte] =
      be(body.length + 8, 4) ++ tag.getBytes ++ body
    def ftyp(brand: String) = box("ftyp", brand.getBytes ++ be(0, 4) ++ "mif1".getBytes)
    val ispe = box("ispe", be(0, 4) ++ be(1024, 4) ++ be(768, 4))
    val ipco = box("ipco", box("free", Array.fill[Byte](2)(0)) ++ ispe)
    val iprp = box("iprp", ipco)
    val hdlr = box("hdlr", Array.fill[Byte](25)(0)) // leaf to step over
    val meta = box("meta", be(0, 4) ++ hdlr ++ iprp)
    val good = ftyp("avif") ++ meta
    val wrongBrand = ftyp("isom") ++ meta       // mp4 brand: not an image
    val trunc = (ftyp("heic") ++ meta).dropRight(16) // ispe cut off
    val media = Seq((1L, good), (2L, wrongBrand), (3L, trunc))
      .toDF("media_id", "payload")
    val out = Multimodal.containerMeta(media, Seq("heif"))
      .orderBy("media_id").collect()
    val m = out(0).getAs[org.apache.spark.sql.Row]("heif")
    assert(m.getAs[String]("brand") == "avif")
    assert(m.getAs[Int]("width") == 1024 && m.getAs[Int]("height") == 768)
    assert(out(1).isNullAt(out(1).fieldIndex("heif")))
    val t3 = out(2).getAs[org.apache.spark.sql.Row]("heif")
    assert(t3.getAs[String]("brand") == "heic" &&
      t3.isNullAt(t3.fieldIndex("width")),
      "truncated ispe yields null dims, not garbage")
  }

  test("hitsScores: exact integer hub/authority path counts with fresh-auth " +
    "half rounds; edge multiplicity weights") {
    import spark.implicits._
    // a->b, a->c, b->c: hand-computed 2 rounds
    // r1: auth b=1, c=2; hub a=3, b=2, c=0
    // r2: auth b=3, c=5; hub a=8, b=5, c=0
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c")).toDF("src", "dst")
    val out = graft.ext.Dedup.hitsScores(edges, iters = 2).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map("a" -> ((8L, 0L)), "b" -> ((5L, 3L)), "c" -> ((0L, 5L))))
    // doubled edge doubles its weight: a->b x2 after one round gives
    // auth(b)=2 and hub(a)=2*2=4
    val weighted = Seq(("a", "b"), ("a", "b")).toDF("src", "dst")
    val w = graft.ext.Dedup.hitsScores(weighted, iters = 1).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(w == Map("a" -> ((4L, 0L)), "b" -> ((0L, 2L))))
  }

  test("encodingStats/Utf8Stats: strict RFC 3629 validation — overlongs, " +
    "surrogates, truncations and strays each one maximal-subpart event") {
    import spark.implicits._
    def stats(b: Array[Byte]): (Long, Long, Long) = {
      val r = graft.functions.Utf8Stats.compute(b)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    assert(stats("plain".getBytes("UTF-8")) == ((5L, 5L, 0L)))
    assert(stats("é€𝄞".getBytes("UTF-8")) == ((9L, 3L, 0L)),
      "2-, 3- and 4-byte sequences all count one char")
    assert(stats(Array(0xC0, 0xAF).map(_.toByte)) == ((2L, 0L, 2L)),
      "overlong C0 lead: two separate invalid events")
    assert(stats(Array(0xED, 0xA0, 0x80).map(_.toByte)) == ((3L, 0L, 3L)),
      "CESU surrogate ED A0 80: lead rejected, strays follow")
    assert(stats(Array(0xE2, 0x82).map(_.toByte)) == ((2L, 0L, 1L)),
      "truncated 3-byte seq: ONE event for the maximal subpart")
    assert(stats(Array(0xF4, 0x90, 0x80, 0x80).map(_.toByte)) == ((4L, 0L, 4L)),
      "F4 90 is above U+10FFFF: rejected at the first continuation")
    assert(stats("a".getBytes ++ Array(0xFF.toByte) ++ "b".getBytes) ==
      ((3L, 2L, 1L)))
    val media = Seq((1L, "oké".getBytes("UTF-8")),
      (2L, Array[Byte](0x68, 0xFF.toByte))).toDF("media_id", "payload")
    val out = Multimodal.encodingStats(media).orderBy("media_id").collect()
    assert(out(0).getLong(2) == 3L && out(0).getBoolean(4))
    assert(out(1).getLong(3) == 1L && !out(1).getBoolean(4))
  }

  test("flacMeta: STREAMINFO bit fields recover exactly; bare magic with " +
    "junk and non-flac payloads stay null") {
    import spark.implicits._
    // 44100 Hz stereo 16-bit, 1e6 samples, block 4096
    val sr = 44100L; val ch1 = 1L; val bps1 = 15L; val total = 1000000L
    val packed = (sr << 44) | (ch1 << 41) | (bps1 << 36) | total
    val good = "fLaC".getBytes ++ Array[Byte](0x80.toByte, 0, 0, 34) ++
      be(4096, 2) ++ be(4096, 2) ++ be(0, 3) ++ be(0, 3) ++
      be(packed, 8) ++ Array.fill[Byte](16)(0)
    val junk = "fLaC".getBytes ++ "not a streaminfo block".getBytes
    val media = Seq((1L, good), (2L, junk), (3L, "plain".getBytes))
      .toDF("media_id", "payload")
    val out = Multimodal.containerMeta(media, Seq("flac"))
      .orderBy("media_id").collect()
    val f = out(0).getAs[org.apache.spark.sql.Row]("flac")
    assert(f.getAs[Int]("min_block") == 4096 && f.getAs[Int]("sample_rate") == 44100)
    assert(f.getAs[Int]("channels") == 2 && f.getAs[Int]("bits_per_sample") == 16)
    assert(f.getAs[Long]("total_samples") == 1000000L)
    assert(out(1).isNullAt(out(1).fieldIndex("flac")),
      "first block must be a length-34 STREAMINFO")
    assert(out(2).isNullAt(out(2).fieldIndex("flac")))
  }

  test("mp3Meta: frame header parses with and without an ID3v2 prefix; " +
    "free-format, bad index and MPEG2 frames stay null") {
    import spark.implicits._
    // MPEG1 L3, bitrate idx 9 (128), 44100, joint stereo
    val frame = Array[Byte](0xFF.toByte, 0xFB.toByte, 0x90.toByte, 0x40, 0, 0)
    val id3 = "ID3".getBytes ++ Array[Byte](4, 0, 0, 0, 0, 0, 5) ++
      Array.fill[Byte](5)(0x7f)
    val freeFmt = Array[Byte](0xFF.toByte, 0xFB.toByte, 0x04, 0x40, 0, 0)
    val badIdx = Array[Byte](0xFF.toByte, 0xFB.toByte, 0xF4.toByte, 0x40, 0, 0)
    val mpeg2 = Array[Byte](0xFF.toByte, 0xF3.toByte, 0x94.toByte, 0x40, 0, 0)
    val media = Seq((1L, frame), (2L, id3 ++ frame), (3L, freeFmt),
      (4L, badIdx), (5L, mpeg2)).toDF("media_id", "payload")
    val out = Multimodal.containerMeta(media, Seq("mp3"))
      .orderBy("media_id").collect()
    val m1 = out(0).getAs[org.apache.spark.sql.Row]("mp3")
    assert(m1.getAs[Int]("bitrate_kbps") == 128 &&
      m1.getAs[Int]("sample_rate") == 44100 &&
      m1.getAs[String]("channel_mode") == "joint" &&
      !m1.getAs[Boolean]("has_id3"))
    val m2 = out(1).getAs[org.apache.spark.sql.Row]("mp3")
    assert(m2.getAs[Int]("bitrate_kbps") == 128 && m2.getAs[Boolean]("has_id3"),
      "synchsafe ID3 size must be skipped")
    assert(out(2).isNullAt(out(2).fieldIndex("mp3")), "free-format rejected")
    assert(out(3).isNullAt(out(3).fieldIndex("mp3")), "bad bitrate index rejected")
    assert(out(4).isNullAt(out(4).fieldIndex("mp3")), "MPEG2 out of contract")
  }

  test("payloadFingerprint: mdat-grain mp4 hashing ignores ftyp/free/moov " +
    "bytes; same sample data fingerprints identically") {
    import spark.implicits._
    def box(tag: String, body: Array[Byte]): Array[Byte] =
      be(body.length + 8, 4) ++ tag.getBytes ++ body
    val data = "the same encoded samples".getBytes
    val a = box("ftyp", "isom".getBytes ++ be(0, 4)) ++ box("mdat", data)
    val b = box("ftyp", "mp42".getBytes ++ be(7, 4)) ++
      box("free", Array.fill[Byte](9)(0)) ++ box("mdat", data) ++
      box("moov", Array.fill[Byte](20)(1))
    val c = box("ftyp", "isom".getBytes ++ be(0, 4)) ++
      box("mdat", "different samples".getBytes)
    val media = Seq((1L, a), (2L, b), (3L, c)).toDF("media_id", "payload")
    val out = Multimodal.payloadFingerprint(media).orderBy("media_id").collect()
    assert(out.forall(_.getString(2) == "mp4"))
    assert(out(0).getString(3) == out(1).getString(3),
      "header/padding/metadata bytes must not touch the fingerprint")
    assert(out(0).getString(3) != out(2).getString(3))
  }

  test("payloadFingerprint: flac hashes past the metadata chain, mp3 past " +
    "the ID3 tag — retagged audio fingerprints identically") {
    import spark.implicits._
    val audio = "same pcm frames here".getBytes
    def flac(padLen: Int): Array[Byte] =
      "fLaC".getBytes ++ Array[Byte](0, 0, 0, 34) ++ Array.fill[Byte](34)(0) ++
        Array(0x81.toByte) ++ be(padLen, 3) ++ Array.fill[Byte](padLen)(0) ++ audio
    val frames = Array[Byte](0xFF.toByte, 0xFB.toByte, 0x90.toByte, 0x40) ++ audio
    def mp3(tagLen: Int): Array[Byte] =
      "ID3".getBytes ++ Array[Byte](4, 0, 0, 0, 0, 0, tagLen.toByte) ++
        Array.fill[Byte](tagLen)(0x41) ++ frames
    val media = Seq((1L, flac(3)), (2L, flac(9)), (3L, mp3(5)), (4L, mp3(12)),
      (5L, "fLaC".getBytes ++ Array[Byte](0, 0, 0, 34) ++
        Array.fill[Byte](34)(0) ++ Array(0x81.toByte) ++ be(0, 3) ++
        "other pcm".getBytes)).toDF("media_id", "payload")
    val out = Multimodal.payloadFingerprint(media).orderBy("media_id").collect()
    assert(out(0).getString(2) == "flac" && out(2).getString(2) == "mp3")
    assert(out(0).getString(3) == out(1).getString(3),
      "padding size must not touch the flac fingerprint")
    assert(out(2).getString(3) == out(3).getString(3),
      "ID3 tag bytes must not touch the mp3 fingerprint")
    assert(out(0).getString(3) != out(4).getString(3))
  }

  test("wavAudioStats: exact duration and prefix PCM16 amplitude stats; non-PCM16 null") {
    import spark.implicits._
    def wav(sr: Int, samples: Seq[Int]): Array[Byte] =
      "RIFF".getBytes ++ le(36 + samples.length * 2, 4) ++ "WAVEfmt ".getBytes ++
        le(16, 4) ++ le(1, 2) ++ le(1, 2) ++ le(sr, 4) ++
        le(sr * 2, 4) ++ le(2, 2) ++ le(16, 2) ++
        "data".getBytes ++ le(samples.length * 2, 4) ++
        samples.flatMap(v => le(v & 0xffff, 2)).toArray
    // 4 samples at 8 kHz: 8 bytes / 16000 B·s⁻¹ = 0 ms (floor); use
    // 8000 samples for a real duration: 16000 B / 16000 = 1000 ms
    val tone = wav(8000, Seq(100, -200, 32767, -32768) ++ Seq.fill(7996)(0))
    val eight = wav(8000, Seq(-5, 5, -5, 5))
    val bad = "RIFFnot really a wav".getBytes
    val rows = Seq((1L, tone), (2L, eight), (3L, bad)).toDF("media_id", "payload")
    val out = rows.select(col("media_id"),
        Multimodal.wavAudioStats(col("payload")).as("a"))
      .collect().map(r => r.getLong(0) ->
        Option(r.getAs[org.apache.spark.sql.Row]("a"))).toMap
    assert(out(3L).isEmpty)
    val a1 = out(1L).get
    assert(a1.getAs[Long]("duration_ms") == 1000L)
    assert(a1.getAs[Long]("n_prefix") == 256L) // capped at maxSamples
    assert(a1.getAs[Long]("peak_abs") == 32768L)
    assert(a1.getAs[Long]("sum_abs") == 100L + 200 + 32767 + 32768)
    val a2 = out(2L).get
    assert(a2.getAs[Long]("n_prefix") == 4L && a2.getAs[Long]("sum_abs") == 20L)
  }

  test("wavAudioStats: truncated payload (declared data_len past the bytes) " +
    "fails closed to a null struct") {
    import spark.implicits._
    def wav(samples: Seq[Int]): Array[Byte] =
      "RIFF".getBytes ++ le(36 + samples.length * 2, 4) ++ "WAVEfmt ".getBytes ++
        le(16, 4) ++ le(1, 2) ++ le(1, 2) ++ le(8000, 4) ++
        le(16000, 4) ++ le(2, 2) ++ le(16, 2) ++
        "data".getBytes ++ le(samples.length * 2, 4) ++
        samples.flatMap(v => le(v & 0xffff, 2)).toArray
    val whole = wav(Seq(1, 2, 3, 4, 5, 6, 7, 8))
    val truncated = whole.dropRight(6) // header intact, samples missing
    val rows = Seq((1L, whole), (2L, truncated)).toDF("media_id", "payload")
    val out = rows.select(col("media_id"),
        Multimodal.wavAudioStats(col("payload")).as("a"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(!out(1L) && out(2L),
      "truncation must null the whole struct, not individual stats")
  }

  test("wavFingerprint: gain and DC shifts preserve the bits; waveform " +
    "change splits; truncated fails closed") {
    import spark.implicits._
    def wav(samples: Seq[Int]): Array[Byte] =
      "RIFF".getBytes ++ le(36 + samples.length * 2, 4) ++ "WAVEfmt ".getBytes ++
        le(16, 4) ++ le(1, 2) ++ le(1, 2) ++ le(8000, 4) ++
        le(16000, 4) ++ le(2, 2) ++ le(16, 2) ++
        "data".getBytes ++ le(samples.length * 2, 4) ++
        samples.flatMap(v => le(v & 0xffff, 2)).toArray
    def base(i: Int) = ((i * 37) % 181) - 90
    val orig = (0 until 128).map(base)
    val rows = Seq(
      (1L, wav(orig)),
      (2L, wav(orig.map(_ * 3))),          // gain ×3
      (3L, wav(orig.map(_ + 500))),        // DC offset
      (4L, wav(orig.map(v => -v))),        // inverted: every delta flips
      (5L, wav(orig).dropRight(10)),       // truncated
      (6L, "junk".getBytes)
    ).toDF("media_id", "payload")
    val out = rows.select(col("media_id"),
        Multimodal.wavFingerprint(col("payload")).as("fp"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out(1L).isDefined)
    assert(out(1L) == out(2L), "positive gain must not move any bit")
    assert(out(1L) == out(3L), "DC offset must not move any bit")
    assert(out(4L).isDefined && out(1L) != out(4L),
      "inverting the waveform must split")
    assert(out(5L).isEmpty && out(6L).isEmpty)
  }

  test("audioNearDupPairs: gain-shifted re-encodes pair at hamming 0; " +
    "distinct audio does not pair") {
    import spark.implicits._
    def wav(samples: Seq[Int]): Array[Byte] =
      "RIFF".getBytes ++ le(36 + samples.length * 2, 4) ++ "WAVEfmt ".getBytes ++
        le(16, 4) ++ le(1, 2) ++ le(1, 2) ++ le(8000, 4) ++
        le(16000, 4) ++ le(2, 2) ++ le(16, 2) ++
        "data".getBytes ++ le(samples.length * 2, 4) ++
        samples.flatMap(v => le(v & 0xffff, 2)).toArray
    def tone(i: Int) = ((i * 29) % 161) - 80
    val media = Seq(
      (1L, wav((0 until 128).map(tone))),
      (2L, wav((0 until 128).map(i => tone(i) * 2 + 7))),   // gain + DC
      (3L, wav((0 until 128).map(i => tone(127 - i)))),     // reversed: far
      (4L, "junk".getBytes)
    ).toDF("media_id", "payload")
    val pairs = Multimodal.audioNearDupPairs(media)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L, 0L)), s"gain-shifted sibling missing: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("bmpDhash: real pixel decode — brightness-shift invariant, pixel change splits") {
    import spark.implicits._
    def bmp(v: (Int, Int) => Int, w: Int = 16, h: Int = 16): Array[Byte] = {
      val stride = (w * 3 + 3) / 4 * 4
      val px = Array.tabulate(h) { r => // bottom-up rows
        val y = h - 1 - r
        (0 until w).flatMap { x =>
          val p = (v(x, y) & 0xff).toByte; Seq(p, p, p)
        } ++ Seq.fill(stride - w * 3)(0.toByte)
      }.flatten
      "BM".getBytes ++ le(54 + px.length, 4) ++ le(0, 4) ++ le(54, 4) ++
        le(40, 4) ++ le(w, 4) ++ le(h, 4) ++ le(1, 2) ++ le(24, 2) ++
        le(0, 4) ++ le(px.length, 4) ++ le(2835, 4) ++ le(2835, 4) ++
        le(0, 4) ++ le(0, 4) ++ px
    }
    def base(x: Int, y: Int) = (x * 13 + y * 7) % 200
    val img = bmp(base)
    val brighter = bmp((x, y) => base(x, y) + 40)      // gradient signs unchanged
    val altered = bmp((x, y) => if (x > 8) 255 - base(x, y) else base(x, y))
    val rows = Seq((1L, img), (2L, brighter), (3L, altered),
      (4L, "not an image".getBytes)).toDF("media_id", "payload")
    val out = rows.select(col("media_id"),
        Multimodal.bmpDhash(col("payload")).as("d"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out(4L).isEmpty)
    assert(out(1L).isDefined && out(1L) == out(2L),
      "uniform brightness shift must not change the gradient hash")
    assert(out(1L) != out(3L), "a real pixel change must split")
    val m = rows.filter(col("media_id") === 1L)
      .select(Multimodal.bmpMeta(col("payload")).as("m")).collect()(0)
      .getAs[org.apache.spark.sql.Row]("m")
    assert(m.getAs[Int]("width") == 16 && m.getAs[Int]("height") == 16 &&
      m.getAs[Int]("bpp") == 24)
  }

  /** Real PNG bytes: raw formula pixels filtered per scanline (the
    * filter type chosen by `filterOf`), REAL zlib compression via
    * `Deflater` (not stored blocks — the fixture query covers those),
    * optionally split across two IDAT chunks. */
  private def pngBytes(v: (Int, Int) => Int, w: Int = 16, h: Int = 16,
                       colorType: Int = 2, filterOf: Int => Int = _ % 5,
                       splitIdat: Boolean = false,
                       interlace: Int = 0): Array[Byte] = {
    val ch = Map(0 -> 1, 2 -> 3, 4 -> 2, 6 -> 4)(colorType)
    def rawByte(y: Int, i: Int): Int = {
      val c = i % ch
      val isAlpha = (colorType == 4 && c == 1) || (colorType == 6 && c == 3)
      if (isAlpha) 255 else v(i / ch, y) & 0xff
    }
    val stream = (0 until h).flatMap { y =>
      val ft = filterOf(y)
      ft.toByte +: (0 until w * ch).map { i =>
        val raw = rawByte(y, i)
        val left = if (i >= ch) rawByte(y, i - ch) else 0
        val up = if (y > 0) rawByte(y - 1, i) else 0
        val ul = if (i >= ch && y > 0) rawByte(y - 1, i - ch) else 0
        val pred = ft match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) >> 1
          case _ =>
            val p = left + up - ul
            val (pa, pb, pc) = (math.abs(p - left), math.abs(p - up), math.abs(p - ul))
            if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
        }
        ((raw - pred) & 0xff).toByte
      }
    }.toArray
    val d = new java.util.zip.Deflater()
    d.setInput(stream); d.finish()
    val buf = new Array[Byte](stream.length + 256)
    val n = d.deflate(buf); d.end()
    val zz = buf.take(n)
    val sig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    def chunk(tag: String, data: Array[Byte]): Array[Byte] =
      be(data.length, 4) ++ tag.getBytes ++ data ++ be(0, 4)
    val ihdr = chunk("IHDR", be(w, 4) ++ be(h, 4) ++
      Array[Byte](8, colorType.toByte, 0, 0, interlace.toByte))
    val idats =
      if (splitIdat) chunk("IDAT", zz.take(zz.length / 2)) ++
        chunk("IDAT", zz.drop(zz.length / 2))
      else chunk("IDAT", zz)
    sig ++ ihdr ++ chunk("tEXt", "ancillary".getBytes) ++ idats ++
      chunk("IEND", Array.empty[Byte])
  }


  /** REAL Adam7 serialization of the formula pixels: each non-empty
    * pass an independent filtered sub-image (filter 0 rows), zlib
    * via Deflater — [[pngBytes]]'s interlaced sibling. */
  private def adam7Bytes(v: (Int, Int) => Int, w: Int = 16,
                         h: Int = 16): Array[Byte] = {
    val passes = Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
      (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    val stream = passes.flatMap { case (xo, yo, xs, ys) =>
      val pw = if (w > xo) (w - xo + xs - 1) / xs else 0
      val ph = if (h > yo) (h - yo + ys - 1) / ys else 0
      (0 until ph).flatMap { j =>
        0.toByte +: (0 until pw).flatMap { i =>
          val p = (v(xo + i * xs, yo + j * ys) & 0xff).toByte
          Seq(p, p, p)
        }
      }
    }.toArray
    val d = new java.util.zip.Deflater()
    d.setInput(stream); d.finish()
    val buf = new Array[Byte](stream.length + 256)
    val n = d.deflate(buf); d.end()
    val zz = buf.take(n)
    val sig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    def chunk(tag: String, data: Array[Byte]): Array[Byte] =
      be(data.length, 4) ++ tag.getBytes ++ data ++ crcChunk(tag, data)
    sig ++ chunk("IHDR", be(w, 4) ++ be(h, 4) ++
      Array[Byte](8, 2, 0, 0, 1)) ++ chunk("IDAT", zz) ++
      chunk("IEND", Array.empty[Byte])
  }

  /** Chunk CRC32 over tag+data (ImageIO validates them). */
  private def crcChunk(tag: String, data: Array[Byte]): Array[Byte] = {
    val c = new java.util.zip.CRC32()
    c.update(tag.getBytes)
    c.update(data)
    be(c.getValue, 4)
  }

  test("pngDhash: inflate + all five filter inversions recover the pixels; " +
    "BMP of the same image hashes EQUAL; malformed payloads fail closed") {
    import spark.implicits._
    def bmpOf(v: (Int, Int) => Int, w: Int = 16, h: Int = 16): Array[Byte] = {
      val stride = (w * 3 + 3) / 4 * 4
      val px = Array.tabulate(h) { r =>
        val y = h - 1 - r
        (0 until w).flatMap { x =>
          val p = (v(x, y) & 0xff).toByte; Seq(p, p, p)
        } ++ Seq.fill(stride - w * 3)(0.toByte)
      }.flatten
      "BM".getBytes ++ le(54 + px.length, 4) ++ le(0, 4) ++ le(54, 4) ++
        le(40, 4) ++ le(w, 4) ++ le(h, 4) ++ le(1, 2) ++ le(24, 2) ++
        le(0, 4) ++ le(px.length, 4) ++ le(2835, 4) ++ le(2835, 4) ++
        le(0, 4) ++ le(0, 4) ++ px
    }
    def base(x: Int, y: Int) = (x * 13 + y * 7) % 200
    val good = pngBytes(base)                       // filters cycle 0..4
    val corrupt = {
      val b = pngBytes(base).clone()
      // flip a byte inside the compressed IDAT body (after sig+IHDR+tEXt)
      b(60) = (b(60) ^ 0x5a).toByte; b
    }
    val rows = Seq(
      (1L, good),
      (2L, pngBytes(base, filterOf = _ => 0)),      // same pixels, no filtering
      (3L, pngBytes(base, colorType = 0)),          // gray: luma 1000·v == RGB's
      (4L, pngBytes(base, colorType = 6)),          // RGBA, opaque alpha
      (5L, pngBytes(base, splitIdat = true)),       // multi-IDAT concatenation
      (6L, bmpOf(base)),                            // the SAME image as BMP
      (7L, pngBytes(base, interlace = 1)),          // LYING header: fail closed
      (11L, adam7Bytes(base)),                      // REAL Adam7: equal hash
      (8L, good.dropRight(20)),                     // truncated: fail closed
      (9L, corrupt),                                // zlib error: fail closed
      (10L, "not an image".getBytes)
    ).toDF("media_id", "payload").localCheckpoint()
    val out = rows.select(col("media_id"),
        Multimodal.imageDhash(col("payload")).as("d"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out(1L).isDefined)
    assert(out(1L) == out(2L), "filter choice must not change decoded pixels")
    assert(out(1L) == out(3L) && out(1L) == out(4L),
      "gray/RGBA of the same values share the luma, so the hash")
    assert(out(1L) == out(5L), "split IDAT must concatenate")
    assert(out(1L) == out(6L), "PNG and BMP of the same pixels hash EQUAL")
    assert(out(1L) == out(11L),
      "an Adam7 and a plain encode of the same pixels hash EQUAL")
    // the Adam7 fixture is independently verified: the JDK's own PNG
    // reader decodes it to the formula pixels
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(adam7Bytes(base)))
    for (y <- 0 until 16; x <- 0 until 16)
      assert((img.getRGB(x, y) & 0xff) == (base(x, y) & 0xff), s"($x,$y)")
    // an interlace header OVER non-interlaced data lies about its
    // geometry — fail closed, like truncation/corruption/junk
    assert(out(7L).isEmpty && out(8L).isEmpty && out(9L).isEmpty && out(10L).isEmpty)
    // pngMeta agrees with the decode path
    val m = rows.filter(col("media_id") === 1L)
      .select(Multimodal.pngMeta(col("payload")).as("m")).collect()(0)
      .getAs[org.apache.spark.sql.Row]("m")
    assert(m.getAs[Int]("width") == 16 && m.getAs[Int]("height") == 16)
  }

  /** Gray formula image encoded as JPEG via the JDK codec. */
  private def jpegBytes(v: (Int, Int) => Int, w: Int = 72, h: Int = 64): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val p = v(x, y) & 0xff
      img.setRGB(x, y, (p << 16) | (p << 8) | p)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  test("jpegDhash: real decode via the JDK codec — block-aligned pixels " +
    "round-trip to the source's exact dHash; malformed/oversized fail closed") {
    import spark.implicits._
    // block-constant pattern: JPEG encodes DC-only blocks ~losslessly
    def block(x: Int, y: Int) = 128 + ((x / 8) % 2 * 24 - 12) + ((y / 8) % 3 * 8)
    val good = jpegBytes(block)
    // re-encode: decode then encode again at the codec's defaults
    val reenc = {
      val back = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(good))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(back, "jpg", bos)
      bos.toByteArray
    }
    // oversized claim: patch the SOF height bytes to 60000 (the
    // bounded-decode guard must reject BEFORE ImageIO allocates)
    val huge = {
      val b = good.clone()
      var pos = 2
      var found = -1
      while (found < 0 && pos + 4 <= b.length) {
        val m = b(pos + 1) & 0xff
        if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) found = pos
        else pos += 2 + (((b(pos + 2) & 0xff) << 8) | (b(pos + 3) & 0xff))
      }
      assert(found > 0, "fixture jpeg must contain an SOF")
      b(found + 5) = 0xea.toByte; b(found + 6) = 0x60.toByte // h = 60000
      b(found + 7) = 0xea.toByte; b(found + 8) = 0x60.toByte // w = 60000
      b
    }
    // the same pixels as a lossless PNG: cross-codec dHash equality
    val pngSame = pngBytes(block, w = 72, h = 64)
    val rows = Seq(
      (1L, good), (2L, reenc), (3L, pngSame),
      (4L, good.dropRight(40)),  // truncated entropy data
      (5L, huge),
      (6L, "not a jpeg".getBytes)
    ).toDF("media_id", "payload").localCheckpoint()
    val out = rows.select(col("media_id"),
        Multimodal.imageDhash(col("payload")).as("d"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out(1L).isDefined)
    assert(out(1L) == out(3L),
      "block-aligned JPEG must round-trip to the lossless source's dHash")
    val drift = java.lang.Long.bitCount(out(1L).get ^ out(2L).get)
    assert(drift <= 3, s"re-encode drift must stay in the near-dup radius: $drift")
    assert(out(4L).isEmpty && out(5L).isEmpty && out(6L).isEmpty)
  }

  test("imageNearDupPairs: a PNG re-save of a BMP pairs cross-format at hamming 0") {
    import spark.implicits._
    def g(x: Int, y: Int) = (x * 17 + y * 5) % 210
    def bmpOf(v: (Int, Int) => Int): Array[Byte] = {
      val px = Array.tabulate(16) { r =>
        val y = 15 - r
        (0 until 16).flatMap { x =>
          val p = (v(x, y) & 0xff).toByte; Seq(p, p, p)
        }
      }.flatten
      "BM".getBytes ++ le(54 + px.length, 4) ++ le(0, 4) ++ le(54, 4) ++
        le(40, 4) ++ le(16, 4) ++ le(16, 4) ++ le(1, 2) ++ le(24, 2) ++
        le(0, 4) ++ le(px.length, 4) ++ le(2835, 4) ++ le(2835, 4) ++
        le(0, 4) ++ le(0, 4) ++ px
    }
    val media = Seq(
      (1L, bmpOf(g)),
      (2L, pngBytes(g)),                                  // re-save as PNG
      (3L, pngBytes((x, y) => ((15 - x) * 17 + y * 5) % 210)), // mirrored: far
      (4L, "junk".getBytes)
    ).toDF("media_id", "payload").localCheckpoint()
    val pairs = Multimodal.imageNearDupPairs(media)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L, 0L)), s"cross-format pair missing: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("imageNearDupPairs: identical and brightness-shifted pixels pair; distinct do not") {
    import spark.implicits._
    def bmp2(v: (Int, Int) => Int, w: Int = 16, h: Int = 16): Array[Byte] = {
      val stride = (w * 3 + 3) / 4 * 4
      val px = Array.tabulate(h) { r =>
        val y = h - 1 - r
        (0 until w).flatMap { x =>
          val p = (v(x, y) & 0xff).toByte; Seq(p, p, p)
        } ++ Seq.fill(stride - w * 3)(0.toByte)
      }.flatten
      "BM".getBytes ++ le(54 + px.length, 4) ++ le(0, 4) ++ le(54, 4) ++
        le(40, 4) ++ le(w, 4) ++ le(h, 4) ++ le(1, 2) ++ le(24, 2) ++
        le(0, 4) ++ le(px.length, 4) ++ le(2835, 4) ++ le(2835, 4) ++
        le(0, 4) ++ le(0, 4) ++ px
    }
    def grad(x: Int, y: Int) = (x * 11 + y * 3) % 190
    val media = Seq(
      (1L, bmp2(grad)),
      (2L, bmp2((x, y) => grad(x, y) + 30)),        // brightness shift: same hash
      (3L, bmp2((x, y) => ((15 - x) * 11 + y * 3) % 190)), // mirrored: far
      (4L, "junk".getBytes)
    ).toDF("media_id", "payload")
    val pairs = Multimodal.imageNearDupPairs(media)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L, 0L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("payloadFingerprint: metadata re-wraps collapse, content changes split") {
    import spark.implicits._
    def hexBytes(h: String): Array[Byte] =
      h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val sig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    def chunk(tag: String, data: Array[Byte]): Array[Byte] =
      be(data.length, 4) ++ tag.getBytes ++ data ++ be(0, 4)
    val ihdr = chunk("IHDR", be(2, 4) ++ be(2, 4) ++ Array[Byte](8, 2, 0, 0, 0))
    val iend = chunk("IEND", Array.empty[Byte])
    val pix = "PIXELDATA".getBytes
    val png1 = sig ++ ihdr ++ chunk("tEXt", "comment-a".getBytes) ++
      chunk("IDAT", pix) ++ iend
    val png2 = sig ++ ihdr ++ chunk("tEXt", "entirely different meta".getBytes) ++
      chunk("tIME", be(2024, 2)) ++ chunk("IDAT", pix) ++ iend
    val png3 = sig ++ ihdr ++ chunk("IDAT", "OTHERDATA".getBytes) ++ iend
    // JPEGs: same entropy data behind different COM segments
    def jpeg(comment: String, entropyHex: String) = hexBytes(
      "FFD8" + "FFFE" + f"${comment.length + 2}%04X" +
        comment.getBytes.map(b => f"$b%02X").mkString +
        "FFDB0005000000" +
        "FFC00011" + "08" + "0002" + "0002" + "03010011020011030011" +
        "FFDA0008000000000000" + entropyHex + "FFD9")
    val j1 = jpeg("v1", "A1B2C3")
    val j2 = jpeg("a much longer comment string", "A1B2C3")
    val j3 = jpeg("v1", "D4E5F6")
    // WAVs: same samples behind different RIFF sizes (re-tag proxy)
    def wav(riffSize: Int, samples: Array[Byte]) =
      "RIFF".getBytes ++ le(riffSize, 4) ++ "WAVEfmt ".getBytes ++
        le(16, 4) ++ le(1, 2) ++ le(2, 2) ++ le(44100, 4) ++
        le(176400, 4) ++ le(4, 2) ++ le(16, 2) ++
        "data".getBytes ++ le(samples.length, 4) ++ samples
    val s1 = wav(100, "samples!".getBytes)
    val s2 = wav(999, "samples!".getBytes)
    val s3 = wav(100, "SAMPLES!".getBytes)
    val rows = Seq(
      (1L, png1), (2L, png2), (3L, png3),
      (11L, j1), (12L, j2), (13L, j3),
      (21L, s1), (22L, s2), (23L, s3),
      (31L, "free bytes".getBytes))
      .toDF("media_id", "payload")
    val got = Multimodal.payloadFingerprint(rows)
      .select("media_id", "format", "fingerprint")
      .as[(Long, String, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L)._1 == "png" && got(11L)._1 == "jpeg" &&
      got(21L)._1 == "wav" && got(31L)._1 == "other")
    assert(got(1L)._2 == got(2L)._2, "PNG re-wrap must not change the fingerprint")
    assert(got(1L)._2 != got(3L)._2, "PNG pixel change must split")
    assert(got(11L)._2 == got(12L)._2, "JPEG comment change must not split")
    assert(got(11L)._2 != got(13L)._2, "JPEG entropy change must split")
    assert(got(21L)._2 == got(22L)._2, "WAV re-tag must not split")
    assert(got(21L)._2 != got(23L)._2, "WAV sample change must split")
  }
}

class CorpusIOSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("JSONL round-trip preserves every value; corrupt lines quarantine, not kill") {
    val dir = java.nio.file.Files.createTempDirectory("graft-io").toString
    val docs = load("documents").limit(25)
    graft.sources.CorpusIO.writeJsonl(docs, dir)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "part-broken.json"),
      """{"doc_id": 999999, "text": "unterminated""" + "\n")
    // Spark refuses scans whose referenced columns are ONLY the corrupt
    // column — cache first (the documented pattern for quarantine counts)
    val all = graft.sources.CorpusIO.readJsonl(spark, dir).cache()
    assert(all.filter(col(graft.sources.CorpusIO.corruptCol).isNotNull).count() == 1)
    val clean = graft.sources.CorpusIO.readJsonlClean(spark, dir)
    assert(clean.exceptAll(docs).isEmpty && docs.exceptAll(clean).isEmpty)
    // the bare-count path (no columns referenced) must also work — this
    // is what a benchmark or row-count audit runs
    assert(graft.sources.CorpusIO.readJsonlClean(spark, dir).count() == 25)
  }

  test("jsonl.zst shards read under the quarantine contract: good rows " +
    "parse, a malformed line lands in _corrupt, a bit-flipped archive " +
    "vanishes WHOLE") {
    import spark.implicits._
    def un(h: String): Array[Byte] =
      h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // stock zstd-1.5.7 shards (pinned): A = 3 good JSONL rows,
    // C = 1 good row + 1 junk line
    val shardA = un("28B52FFD24D86D030062461518903B07ABB9C5C66B6EB505D9" +
      "5D627706A923E79CFDFD7C0240B416C2CC36BE4EAA286A08C33A763A692F0B80" +
      "88C833515F2BE0D5D93ACF6F8B0D335787FBBC0135B9FA424EFA96449FEF67FB" +
      "6AE5DD5134768702082030E3F4CD1C9158B8B81C135A02C6B51CCA56CD2A6693" +
      "43")
    val shardC = un("28B52FFD245C6D0200C2451211907D6301066E50FAD0DDB1E4" +
      "7BBABE96192046E3D6B89CF5B99DD2ABF3EA9A055B90AFD43454E4873F0A3F79" +
      "85E89DF5C3D3F5E49934F1C3E3491DCE276FB3B21F06F9E40A9AE97500B6FB5F" +
      "A4")
    val dir = java.nio.file.Files.createTempDirectory("graft-jzst-unit")
    java.nio.file.Files.write(dir.resolve("a.jsonl.zst"), shardA)
    val bad = shardA.clone()
    bad(bad.length - 3) = (bad(bad.length - 3) ^ 1).toByte
    java.nio.file.Files.write(dir.resolve("b.jsonl.zst"), bad)
    java.nio.file.Files.write(dir.resolve("c.jsonl.zst"), shardC)
    val got = graft.sources.CorpusIO.readJsonlZst(spark, dir.toString)
      .cache()
    assert(got.count() == 5, "3 + 1 good rows + 1 quarantined")
    assert(got.filter(
      col(graft.sources.CorpusIO.corruptCol).isNotNull).count() == 1)
    val rows = got.filter(col("doc_id").isNotNull)
      .select("doc_id", "text", "lang").orderBy("doc_id")
      .as[(Long, String, String)].collect().toSeq
    assert(rows == Seq((1L, "alpha one", "en"), (2L, "beta two", "de"),
      (3L, "gamma three", "en"), (9L, "ok row", "fr")))
    got.unpersist()
  }

  test("CSV round-trip with quoting survives commas, quotes and newlines") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-csv").toString
    val docs = Seq(
      (1L, "plain text", "en", "src0", 10L),
      (2L, "comma, \"quoted\" and\nnewline", "en", "src1", 26L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    graft.sources.CorpusIO.writeCsv(docs, dir)
    val back = graft.sources.CorpusIO.readCsv(spark, dir, multiLine = true)
      .filter(col(graft.sources.CorpusIO.corruptCol).isNull)
      .drop(graft.sources.CorpusIO.corruptCol)
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
  }

  test("capPerSource equals the window row_number form and bounds group size") {
    import org.apache.spark.sql.expressions.Window
    val docs = load("documents")
    val got = Corpus.capPerSource(docs, maxDocs = 7, ordCol = col("n_chars"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").cast("double").desc, col("doc_id"))
    val want = docs.select(col("source"),
        row_number().over(w).cast("long").as("rnk"),
        col("doc_id"), col("n_chars").cast("double").as("ord"))
      .filter(col("rnk") <= 7)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    val maxPer = got.groupBy("source").count().agg(max("count")).head.getLong(0)
    assert(maxPer <= 7)
  }

  test("tokenBudgetSample: greedy prefix stays within budget, stops at first overflow") {
    import spark.implicits._
    val docs = load("documents")
    val got = Corpus.tokenBudgetSample(docs, budgetTokens = 500)
      .as[(String, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    val bySource = got.groupBy(_._1)
    bySource.values.foreach { rows =>
      assert(rows.map(_._3).sum <= 500)              // within budget
      assert(rows.map(_._4).max == rows.map(_._3).sum) // cum_tokens is the running sum
    }
    // determinism: same prefix on a rerun
    val again = Corpus.tokenBudgetSample(docs, budgetTokens = 500)
      .as[(String, Long, Long, Long)].collect()
    assert(got.toSet == again.toSet)
  }

  test("tokenBudgetSample: two-pass bucketed form equals the whole-stratum window " +
    "reference, including on a 90%-skewed mega-source") {
    import org.apache.spark.sql.expressions.Window
    val docs = load("documents")
    // the mega-stratum the two-pass form exists for: one source holds
    // ~90% of the corpus
    val skewed = docs.withColumn("source",
      when(col("doc_id") % 10 =!= 0, lit("mega")).otherwise(col("source")))
    for (df <- Seq(docs, skewed); budget <- Seq(600L, 50000L)) {
      val got = Corpus.tokenBudgetSample(df, budget)
      // reference: the single whole-stratum window cumsum (the pre-
      // two-pass form — exact but single-task per stratum)
      val n = size(TextAnalysis.tokens(col("text"))).cast("long")
      val hx = md5(concat(col("source"), lit("|"), col("doc_id").cast("string")))
      val w = Window.partitionBy(col("source")).orderBy(col("__h"), col("doc_id"))
      val want = df.select(col("source"), col("doc_id"), n.as("n_tokens"), hx.as("__h"))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .filter(col("cum_tokens") <= budget)
        .select(col("source"), col("doc_id"), col("n_tokens"), col("cum_tokens"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"two-pass result diverges at budget $budget")
      assert(got.count() > 0)
    }
  }

  test("dedupSentencesWithinDoc: first occurrence wins, order kept, sentence-free docs drop") {
    import spark.implicits._
    val df = Seq(
      (1L, "Keep me. Dup line! Middle one? Dup line! End."),
      (2L, "No repeats here. Second part."),
      (3L, "!!!")).toDF("doc_id", "text")
    val got = TextAnalysis.dedupSentencesWithinDoc(df)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, "Keep me. Dup line! Middle one? End.", 4L, 5L)))
    assert(got(2L) == ((2L, "No repeats here. Second part.", 2L, 2L)))
    assert(!got.contains(3L)) // bare terminators segment to nothing
  }

  test("sentences: terminator-run segmentation with trimming, empties dropped") {
    import spark.implicits._
    val df = Seq(
      (1L, "One two. Three! Four? Five..."),
      (2L, "no terminators here"),
      (3L, "!!!")).toDF("doc_id", "text")
    val got = TextAnalysis.sentences(df)
      .as[(Long, Long, String)].collect().groupBy(_._1)
    assert(got(1L).sortBy(_._2).map(_._3).toSeq ==
      Seq("One two.", "Three!", "Four?", "Five..."))
    assert(got(2L).map(_._3).toSeq == Seq("no terminators here"))
    // a bare terminator run has no non-terminator chars → no sentences
    assert(!got.contains(3L))
  }

  test("removeBoilerplateSentences drops shared sentences, keeps per-doc text in order") {
    import spark.implicits._
    val df = Seq(
      (1L, "Unique alpha. Accept cookies! Own beta."),
      (2L, "Gamma one. Accept cookies! Gamma two."),
      (3L, "Delta only. Accept cookies!"),
      (4L, "Accept cookies!")).toDF("doc_id", "text")
    val got = TextAnalysis.removeBoilerplateSentences(df, minDocs = 3)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == (("Unique alpha. Own beta."), 2L))
    assert(got(2L) == (("Gamma one. Gamma two."), 2L))
    assert(got(3L) == (("Delta only."), 1L))
    assert(!got.contains(4L)) // nothing but boilerplate → gone
  }

  test("Bloom: zero false negatives; decontaminateBloom equals plain decontaminate") {
    import spark.implicits._
    val keys = (1 to 2000).map(i => s"key$i")
    val df = keys.toDF("k")
    val bloom = graft.functions.Bloom.build(df, col("k"), numBits = 1 << 16, numHashes = 5)
    // every inserted key must probe true (no false negatives, ever)
    val hits = df.filter(graft.functions.Bloom.mightContain(
      bloom, 1 << 16, 5, col("k"))).count()
    assert(hits == 2000)
    // a disjoint probe set mostly misses (false-positive rate sanity)
    val misses = (1 to 2000).map(i => s"other$i").toDF("k")
      .filter(graft.functions.Bloom.mightContain(bloom, 1 << 16, 5, col("k"))).count()
    assert(misses < 200, s"false-positive rate implausibly high: $misses/2000")
    // the runtime filter must be invisible to the exact result
    val docs = load("documents")
    val plain = TextAnalysis.decontaminate(docs, shingleN = 4)
    val bloomed = TextAnalysis.decontaminateBloom(docs, shingleN = 4)
    assert(bloomed.exceptAll(plain).isEmpty && plain.exceptAll(bloomed).isEmpty)
  }

  test("heavyHitterTokens: exact result under skew with far more distinct tokens than sketch state") {
    import spark.implicits._
    // 5000 distinct singleton tokens + 3 heavy tokens; k=10, capacity 40
    // counters — the sketch state is 125× smaller than the vocabulary
    val heavy = Seq.fill(900)("alpha") ++ Seq.fill(700)("beta") ++ Seq.fill(600)("gamma")
    val noise = (1 to 5000).map(i => s"junk$i")
    val docs = scala.util.Random.shuffle(heavy ++ noise).grouped(50)
      .zipWithIndex.map { case (g, i) => (i.toLong, g.mkString(" ")) }
      .toSeq.toDF("doc_id", "text")
      .repartition(8) // force multi-partition partials + a real merge
    val got = TextAnalysis.heavyHitterTokens(docs, k = 10)
      .as[(String, Long)].collect().toMap
    // n = 7200; threshold n/10 = 720 → only alpha (900) qualifies
    assert(got == Map("alpha" -> 900L))
    // lower threshold: n/12 = 600 → alpha and beta (gamma == 600 is not >)
    val got12 = TextAnalysis.heavyHitterTokens(docs, k = 12)
      .as[(String, Long)].collect().toMap
    assert(got12 == Map("alpha" -> 900L, "beta" -> 700L))
  }

  test("cmsSketch/cmsEstimate: never below exact; exact when collision-free; " +
       "multi-partition build merges") {
    import spark.implicits._
    val words = Seq.fill(500)("alpha") ++ Seq.fill(300)("beta") ++
      (1 to 2000).map(i => s"tail$i")
    val docs = scala.util.Random.shuffle(words).grouped(40)
      .zipWithIndex.map { case (g, i) => (i.toLong, g.mkString(" ")) }
      .toSeq.toDF("doc_id", "text").repartition(8)
    val exact = docs.select(explode(TextAnalysis.tokens($"text")).as("token"))
      .groupBy("token").count().as[(String, Long)].collect().toMap
    val probe = exact.keys.toSeq.toDF("token")
    // narrow sketch: estimates are upper bounds, heavy tokens dominate
    val narrow = TextAnalysis.cmsEstimate(probe,
      TextAnalysis.cmsSketch(docs, depth = 4, width = 256),
      depth = 4, width = 256).as[(String, Long)].collect().toMap
    assert(exact.forall { case (t, c) => narrow(t) >= c })
    // wide sketch: 1M buckets over 2002 tokens — collisions are
    // possible but the MIN over 4 independent rows colliding for the
    // same token is vanishingly unlikely; equality must hold here
    val wide = TextAnalysis.cmsEstimate(probe,
      TextAnalysis.cmsSketch(docs, depth = 4, width = 1 << 20),
      depth = 4, width = 1 << 20).as[(String, Long)].collect().toMap
    assert(wide == exact)
    // a token absent from the corpus estimates 0 under the wide sketch
    val ghost = TextAnalysis.cmsEstimate(Seq("never-seen").toDF("token"),
      TextAnalysis.cmsSketch(docs, depth = 4, width = 1 << 20),
      depth = 4, width = 1 << 20).as[(String, Long)].collect().head._2
    assert(ghost == 0L)
  }

  test("exactSample: exactly min(k, n) per stratum, equal to the window form, stable") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val docs = load("documents")
    val got = TextAnalysis.exactSample(docs, k = 6)
    val sizes = got.groupBy("source").count().select("count").as[Long].collect()
    assert(sizes.nonEmpty && sizes.forall(_ == 6)) // every sf0.001+ stratum has ≥ 6 docs
    // window-form reference with the identical 13-nibble md5 ordering
    val hx = md5(concat(col("source"), lit("|"), col("doc_id").cast("string")))
    def nibAt(i: Int) = instr(lit("0123456789abcdef"), substring(hx, i, 1)) - 1
    val v = (1 to 13).foldLeft(lit(0L)) { (acc, i) => acc * 16 + nibAt(i).cast("long") }
    val w = Window.partitionBy(col("source")).orderBy(v, col("doc_id"))
    val want = docs.select(col("source"),
        row_number().over(w).cast("long").as("rnk"), col("doc_id"))
      .filter(col("rnk") <= 6)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("weightedSample: equals the window-form A-ES reference; zero-weight rows excluded") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val docs = load("documents")
      // zero out some weights: those docs must never be sampled
      .withColumn("w", when(col("doc_id") % 7 === 0, lit(0L)).otherwise(col("n_chars")))
    val got = TextAnalysis.weightedSample(docs, k = 6, col("w"))
    assert(got.filter(col("doc_id") % 7 === 0).isEmpty)
    // window-form reference with the identical priority formula
    val hx = md5(concat(col("source"), lit("|"), col("doc_id").cast("string")))
    def nibAt(i: Int) = instr(lit("0123456789abcdef"), substring(hx, i, 1)) - 1
    val v = (1 to 13).foldLeft(lit(0L)) { (acc, i) => acc * 16 + nibAt(i).cast("long") }
    val pri = round(log((v.cast("double") + lit(0.5)) / lit(4503599627370496.0))
      / col("w"), 9)
    val w = Window.partitionBy(col("source")).orderBy(pri.desc, col("doc_id"))
    val want = docs.filter(col("w") > 0).select(col("source"),
        row_number().over(w).cast("long").as("rnk"), col("doc_id"),
        pri.as("log_priority"))
      .filter(col("rnk") <= 6)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // the weighting bites: heavy docs are over-represented vs the
    // unweighted sample (compare against exactSample's md5-rank picks)
    val unweighted = TextAnalysis.exactSample(docs, k = 6)
      .join(docs.select("doc_id", "w"), "doc_id")
      .agg(avg("w")).as[Double].collect().head
    val weighted = got.join(docs.select("doc_id", "w"), "doc_id")
      .agg(avg("w")).as[Double].collect().head
    assert(weighted > unweighted,
      s"weighted sample mean weight $weighted should exceed unweighted $unweighted")
  }

  test("curation ops compose with streaming ingestion: gopher audit + PII redaction, stream ≡ batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-curate").toString
    val docs = load("documents").limit(40)
    graft.sources.CorpusIO.writeJsonl(docs, dir)
    def curate(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.gopherRules(df.withColumn("text",
        TextAnalysis.redactPii(col("text"))))
    val q = curate(graft.sources.CorpusIO.readJsonlStream(spark, dir))
      .writeStream.format("memory").queryName("stream_curate")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("stream_curate")
    val want = curate(graft.sources.CorpusIO.readJsonlClean(spark, dir))
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("streaming JSONL ingestion delivers the same rows as the batch reader") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-jsonl").toString
    val docs = load("documents").limit(30)
    graft.sources.CorpusIO.writeJsonl(docs, dir)
    val q = graft.sources.CorpusIO.readJsonlStream(spark, dir)
      .writeStream.format("memory").queryName("jsonl_ingest")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("jsonl_ingest")
    assert(got.count() == 30)
    assert(got.exceptAll(docs).isEmpty && docs.exceptAll(got).isEmpty)
  }

  test("linearScore: hashed-bag mean matches a JVM reference; zero-token docs dropped") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta alpha"), (2L, "   "), (3L, "gamma delta"))
      .toDF("doc_id", "text")
    val w = Seq(0.25, -0.5, 0.75, -1.0)
    def bucket(t: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val v = (0 until 4).map(i => Integer.parseInt(hex.substring(i, i + 1), 16))
      (v(0) * 4096 + v(1) * 256 + v(2) * 16 + v(3)) % 4
    }
    def ref(toks: Seq[String]): Double =
      toks.map(t => w(bucket(t))).sum / toks.size + 0.1
    val got = TextAnalysis.linearScore(docs, w, bias = 0.1)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet == Set(1L, 3L)) // whitespace-only doc dropped
    assert(got(1L) == ((3L, ref(Seq("alpha", "beta", "alpha")))))
    assert(got(3L) == ((2L, ref(Seq("gamma", "delta")))))
  }

  test("logregTrain: trained weights separate the classes and feed linearScore " +
    "directly (train half of the inference contract)") {
    import spark.implicits._
    val docs = load("documents")
    val isPos = col("source").startsWith("src1")
    val w = TextAnalysis.logregTrain(docs, isPos, buckets = 64, steps = 5, lr = 1.0)
      .orderBy("bucket").select("weight").as[Double].collect()
    assert(w.length == 64 && w.exists(_ != 0.0), "training must move some weight")
    // the trained weights plug straight into the inference op: on the
    // training set, positives must score above negatives on average
    val scored = TextAnalysis.linearScore(docs, w.toSeq)
      .join(docs.select(col("doc_id"), isPos.as("__pos")), Seq("doc_id"))
    val means = scored.groupBy(col("__pos")).agg(avg(col("score")).as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(means(true) > means(false),
      s"positives must outscore negatives, got $means")
  }

  test("linearScore broadcast-join form is bit-identical to the literal form " +
    "at 100k buckets, and the dispatcher picks it above the threshold") {
    import spark.implicits._
    val docs = load("documents")
    // deterministic binary-grid weights (multiples of 2^-10): token
    // sums are exact in every summation order, so fold vs partial
    // aggregation must agree to the last bit
    val w = (0 until 100000).map(i => ((i * 31 + 7) % 256 - 128) / 1024.0)
    val lit = TextAnalysis.linearScoreLiteral(docs, w, bias = 0.05)
      .as[(Long, Long, Double)].collect().toSet
    val join = TextAnalysis.linearScoreJoin(docs, w, bias = 0.05)
      .as[(Long, Long, Double)].collect().toSet
    assert(lit == join)
    assert(lit.nonEmpty)
    // dispatcher: above the threshold the plan joins (no 100k-element
    // literal array in the plan text)
    val dispatched = TextAnalysis.linearScore(docs, w, bias = 0.05)
    val plan = dispatched.queryExecution.executedPlan.toString
    assert(plan.contains("Join"), s"expected the join form, got:\n$plan")
    assert(dispatched.as[(Long, Long, Double)].collect().toSet == lit)
  }

  test("aucScore: perfect separation 1.0, reversed 0.0, all-ties 0.5") {
    import spark.implicits._
    def auc(rows: Seq[(Double, Boolean)]): Double =
      TextAnalysis.aucScore(rows.toDF("score", "y"), "score", col("y"))
        .select("auc").as[Double].head()
    assert(auc(Seq((0.9, true), (0.8, true), (0.2, false), (0.1, false))) == 1.0)
    assert(auc(Seq((0.9, false), (0.8, false), (0.2, true), (0.1, true))) == 0.0)
    assert(auc(Seq((0.5, true), (0.5, false), (0.5, true), (0.5, false))) == 0.5)
    // the textbook hand-computable case: pos {0.8, 0.4}, neg {0.6, 0.2}
    // pairs won: (0.8>0.6), (0.8>0.2), (0.4<0.6 lost), (0.4>0.2) → 3/4
    assert(auc(Seq((0.8, true), (0.4, true), (0.6, false), (0.2, false))) == 0.75)
  }

  test("readability: simple prose outscores dense polysyllables; empty docs drop") {
    import spark.implicits._
    val docs = Seq(
      (1L, "The cat sat. The dog ran."),          // short words, short sentences
      (2L, "Incomprehensibility characterizes bureaucratic obfuscation."),
      (3L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.readability(docs)
      .select("doc_id", "n_words", "n_sents", "n_syllables", "flesch")
      .as[(Long, Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(!out.contains(3L), "a wordless doc has no defined score")
    assert(out(1L)._2 == 6L && out(1L)._3 == 2L)
    // vowel-group heuristic: "The"=1 "cat"=1 "sat"=1 ... all monosyllables
    assert(out(1L)._4 == 6L)
    assert(out(1L)._5 > 90.0, s"simple prose must score easy, got ${out(1L)._5}")
    assert(out(2L)._5 < 0.0, s"dense polysyllables must score hard, got ${out(2L)._5}")
  }

  test("truncateTokens: prefix kept, counts conserved, short docs untouched") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e"), (2L, "x y"), (3L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.truncateTokens(docs, maxTokens = 3)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == (("a b c", 3L, 2L)))
    assert(got(2L) == (("x y", 2L, 0L)))
    assert(got(3L) == (("", 0L, 0L)))
  }

  test("sentenceWindows: overlap and tail coverage; short docs give one window") {
    import spark.implicits._
    val docs = Seq((1L, "A one. B two. C three. D four."), (2L, "Solo line."))
      .toDF("doc_id", "text")
    val got = TextAnalysis.sentenceWindows(docs, windowSize = 2, stride = 1)
      .as[(Long, Long, String)].collect().toSet
    assert(got == Set(
      (1L, 0L, "A one. B two."), (1L, 1L, "B two. C three."),
      (1L, 2L, "C three. D four."), (2L, 0L, "Solo line.")))
    // stride 2, window 3 over 4 sentences: two windows, last reaches the end
    val wide = TextAnalysis.sentenceWindows(docs.filter($"doc_id" === 1),
        windowSize = 3, stride = 2)
      .as[(Long, Long, String)].collect().toSet
    assert(wide == Set(
      (1L, 0L, "A one. B two. C three."), (1L, 1L, "C three. D four.")))
  }

  test("gopherRules: per-rule flags fire independently; keep is the conjunction") {
    import spark.implicits._
    val fine = (1 to 60).map(i => s"the and word$i").mkString(" ") // 240 words, has stopwords
    val docs = Seq(
      (1L, fine),
      (2L, "too short to pass the word count rule"),
      (3L, (1 to 60).map(i => s"alpha$i supercalifragilistic$i expialidocious$i").mkString(" ")))
      .toDF("doc_id", "text")
    val r = TextAnalysis.gopherRules(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[Boolean]("keep"))
    assert(!r(2L).getAs[Boolean]("r_word_count") && !r(2L).getAs[Boolean]("keep"))
    assert(!r(3L).getAs[Boolean]("r_mean_len") && !r(3L).getAs[Boolean]("r_stop")
      && !r(3L).getAs[Boolean]("keep"))
  }
}
