package graft

import java.nio.file.Files

import graft.ops.Jdbc

/** The CLI wiring (reference `Main.java:61-211` parity): argv → Graft
  * verbs, dump-vs-jdbc target selection by URL shape, replay. Runs
  * Main.main in-process — the session is shared, which is exactly why
  * Main must not stop it. */
class MainSpec extends SparkSpec {

  test("flag parser: verb, repeatable flags in order, malformed input errors") {
    val (verb, f) = Main.parseFlags(Seq("copy-tree",
      "--path", "a->b.x", "--path", "b->c.y", "--root", "a", "--ids", "1,2"))
    assert(verb == "copy-tree")
    assert(f("path") == Seq("a->b.x", "b->c.y"))
    assert(f("root") == Seq("a"))
    assert(f("nope").isEmpty)
    intercept[RuntimeException](Main.parseFlags(Seq()))
    intercept[RuntimeException](Main.parseFlags(Seq("copy", "--dangling")))
    intercept[RuntimeException](Main.parseFlags(Seq("copy", "positional")))
  }

  test("copy-tree → dump dir → replay onto Derby, driven entirely through argv") {
    val dump = Files.createTempDirectory("graft-cli-dump").toString
    Main.main(Array("copy-tree",
      "--data", sf, "--target", dump,
      "--path", "customer->orders.o_custkey",
      "--root", "customer", "--ids", (1L to 10L).mkString(",")))
    // dump target wrote payloads + manifest
    assert(new java.io.File(s"$dump/manifest.jsonl").exists())

    // stand the schema up in Derby, then replay the dump through argv
    val db = Files.createTempDirectory("graft-cli-derby").toString
    val url = s"jdbc:derby:$db/db;create=true"
    val customer = load("customer").filter(org.apache.spark.sql.functions
      .col("c_custkey") <= 10)
    val orders = load("orders")
    Jdbc.executeSqlList(url, Seq(
      Jdbc.ddlFor("customer", customer.schema),
      Jdbc.ddlFor("orders", orders.schema)))
    Main.main(Array("replay", "--dump", dump, "--url", url))
    assert(Jdbc.read(spark, url, "customer").count() == 10)
    val expectOrders = orders
      .filter(org.apache.spark.sql.functions.col("o_custkey").between(1, 10)).count()
    assert(Jdbc.read(spark, url, "orders").count() == expectOrders)
  }

  test("a copy-tree that fails part-way leaves no manifest behind, and a JDBC target no staging directory") {
    // orders is walked and written before the walk reaches a table the
    // catalog has no key for; a manifest of the finished levels would
    // replay as if it were the whole tree
    val dump = Files.createTempDirectory("graft-cli-dump").toString
    val e = intercept[RuntimeException](Main.main(Array("copy-tree",
      "--data", sf, "--target", dump,
      "--path", "customer->orders.o_custkey", "--path", "orders->nosuch.x",
      "--root", "customer", "--ids", "1,2,3")))
    assert(e.getMessage.contains("nosuch"), e.getMessage)
    assert(!new java.io.File(s"$dump/manifest.jsonl").exists(), "a failed copy-tree committed its manifest")

    // a JDBC target's staging directory is deleted whether the verb fails or not
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def staging(): Set[String] = tmp.listFiles().map(_.getName).filter(_.startsWith("graft-staging")).toSet
    val before = staging()
    val url = s"jdbc:derby:${Files.createTempDirectory("graft-cli-derby")}/db;create=true"
    Jdbc.executeSqlList(url, Seq("customer", "orders").map(t => Jdbc.ddlFor(t, load(t).schema)))
    def copyTree(paths: String*): Unit = Main.main(Array("copy-tree", "--data", sf, "--target", url,
      "--root", "customer", "--ids", "1,2,3") ++ paths.flatMap(p => Seq("--path", p)))
    intercept[RuntimeException](copyTree("customer->orders.o_custkey", "orders->nosuch.x"))
    assert(staging() == before, "a failed copy-tree left its staging directory")
    copyTree("customer->orders.o_custkey")
    assert(staging() == before, "a copy-tree left its staging directory")
  }

  test("copy of customer, orders and lineitem → dump dir → replay onto Derby") {
    val dump = Files.createTempDirectory("graft-cli-copy").toString
    val tables = Seq("customer", "orders", "lineitem")
    Main.main(Array("copy", "--data", sf, "--target", dump, "--tables", tables.mkString(",")))
    val db = Files.createTempDirectory("graft-cli-copy-derby").toString
    val url = s"jdbc:derby:$db/db;create=true"
    // the dump's constraints come from the declared keys: lineitem's
    // non-unique stand-in key would fail as a PRIMARY KEY here
    Main.main(Array("replay", "--dump", dump, "--url", url))
    tables.foreach { t =>
      assert(Jdbc.read(spark, url, t).count() == load(t).count(), t)
    }
  }

  test("copy loads parents first and the Derby replay carries the PK and FK constraints") {
    val dump = Files.createTempDirectory("graft-cli-copy").toString
    // children named first: the dump still creates and loads parents first
    Main.main(Array("copy", "--data", sf, "--target", dump, "--tables", "lineitem,orders,customer"))
    val ops = graft.ops.DumpStore.readManifest(spark, dump)
    assert(ops.collect { case graft.model.Operation.TableLoad(t, _) => t } == Seq("customer", "orders", "lineitem"))
    val url = s"jdbc:derby:${Files.createTempDirectory("graft-cli-copy-derby")}/db;create=true"
    Main.main(Array("replay", "--dump", dump, "--url", url))
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val md = c.getMetaData
      def rows(rs: java.sql.ResultSet)(f: java.sql.ResultSet => (String, String)): Set[(String, String)] =
        try Iterator.continually(rs).takeWhile(_.next()).map(f).toSet finally rs.close()
      def pks(t: String) = rows(md.getPrimaryKeys(null, null, t))(r => (t, r.getString("COLUMN_NAME")))
      def fks(t: String) = rows(md.getImportedKeys(null, null, t))(r =>
        (r.getString("FKCOLUMN_NAME"), s"${r.getString("PKTABLE_NAME")}.${r.getString("PKCOLUMN_NAME")}"))
      assert(pks("customer") == Set(("customer", "c_custkey")))
      assert(pks("orders") == Set(("orders", "o_orderkey")))
      assert(pks("lineitem").isEmpty) // no declared key
      assert(fks("orders") == Set(("o_custkey", "customer.c_custkey")))
      // edges to tables outside the copy (part, supplier) are left out
      assert(fks("lineitem") == Set(("l_orderkey", "orders.o_orderkey")))
    } finally c.close()
    Seq("customer", "orders", "lineitem").foreach { t =>
      assert(Jdbc.read(spark, url, t).count() == load(t).count(), t)
    }
  }

  test("copy-tree prints one JSON line per walked level and a summary; rows match the payload footers") {
    val dump = Files.createTempDirectory("graft-cli-dump").toString
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(out) {
      Main.main(Array("copy-tree", "--data", sf, "--target", dump,
        "--path", "customer->orders.o_custkey", "--path", "orders->lineitem.l_orderkey",
        "--root", "customer", "--ids", (1L to 10L).mkString(",")))
    }
    val json = new com.fasterxml.jackson.databind.ObjectMapper
    val lines = new String(out.toByteArray, "UTF-8").split("\n").toSeq
      .filter(_.startsWith("{")).map(json.readTree)
    assert(lines.length == 4, lines.mkString("\n"))
    val (levels, summary) = (lines.init, lines.last)
    assert(levels.map(_.get("table").asText) == Seq("customer", "orders", "lineitem"))
    def footerRows(dir: String): Long = {
      val conf = spark.sparkContext.hadoopConfiguration
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.getPath), conf))
        try r.getRecordCount finally r.close()
      }.sum
    }
    levels.zipWithIndex.foreach { case (l, i) =>
      val t = l.get("table").asText
      assert(l.get("rows").asLong == footerRows(s"$dump/payloads/${t}_$i"), t)
      assert(l.get("keys").asLong > 0 && l.get("keys").asLong <= l.get("rows").asLong, t)
      assert(l.get("ms").asLong >= 0, t)
    }
    assert(levels.head.get("rows").asLong == 10)
    assert(summary.get("verb").asText == "copy-tree" && summary.get("levels").asInt == 3)
    assert(summary.get("rows").asLong == levels.map(_.get("rows").asLong).sum)
    assert(summary.get("keys").asLong == levels.map(_.get("keys").asLong).sum)
  }

  test("ingest-jsonl/export-jsonl round-trip a corpus through argv") {
    val jsonl = Files.createTempDirectory("graft-cli-jsonl").toString
    val pq = Files.createTempDirectory("graft-cli-pq").toString
    Main.main(Array("export-jsonl", "--path", s"$sf/documents.parquet",
      "--target", jsonl))
    Main.main(Array("ingest-jsonl", "--path", jsonl, "--target", pq))
    val back = spark.read.parquet(pq)
    val all = load("documents")
    assert(back.count() == all.count())
    assert(back.exceptAll(all).isEmpty && all.exceptAll(back).isEmpty)
  }

  test("bpe-train and train-quality verbs write model tables through argv") {
    val merges = Files.createTempDirectory("graft-cli-bpe").toString
    Main.main(Array("bpe-train", "--corpus", s"$sf/documents.parquet",
      "--merges", "4", "--target", merges))
    val m = spark.read.parquet(merges)
    assert(m.count() == 4 &&
      m.columns.toSet == Set("rank", "left_sym", "right_sym", "pair_count"))
    val weights = Files.createTempDirectory("graft-cli-quality").toString
    Main.main(Array("train-quality", "--corpus", s"$sf/documents.parquet",
      "--label-source-prefix", "src1", "--target", weights,
      "--steps", "2", "--buckets", "32"))
    val w = spark.read.parquet(weights)
    assert(w.count() == 32 && w.columns.toSet == Set("bucket", "weight"))
    val uni = Files.createTempDirectory("graft-cli-unigram").toString
    Main.main(Array("unigram-train", "--corpus", s"$sf/documents.parquet",
      "--target", uni, "--rounds", "1"))
    val u = spark.read.parquet(uni)
    assert(u.count() > 0 && u.columns.toSet == Set("piece", "freq", "logp"))
  }

  test("select-data and snapshot-diff verbs write results through argv") {
    val sel = Files.createTempDirectory("graft-cli-select").toString
    Main.main(Array("select-data", "--corpus", s"$sf/documents.parquet",
      "--target-source-prefix", "src1", "--k", "10", "--target", sel))
    val s = spark.read.parquet(sel)
    assert(s.count() == 10 && s.columns.contains("avg_delta"))
    intercept[RuntimeException](Main.main(Array("select-data",
      "--corpus", s"$sf/documents.parquet", "--target-source-prefix", "src1",
      "--k", "5", "--target", sel, "--method", "nope")))
    val diffDir = Files.createTempDirectory("graft-cli-diff").toString
    Main.main(Array("snapshot-diff", "--prev", s"$sf/documents.parquet",
      "--next", s"$sf/documents.parquet", "--id", "doc_id",
      "--cols", "text,lang", "--target", diffDir))
    // identical snapshots → empty churn set, schema intact
    val d = spark.read.parquet(diffDir)
    assert(d.count() == 0 && d.columns.toSet == Set("doc_id", "status"))
  }

  test("prepare-corpus verb runs the curation pipeline and writes the stage funnel") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val out = Files.createTempDirectory("graft-cli-prepare").toString + "/curated"
    Main.main(Array("prepare-corpus", "--corpus", s"$sf/documents.parquet",
      "--target", out, "--max-docs-per-source", "20"))
    val curated = spark.read.parquet(out)
    val stats = spark.read.parquet(out + "_stats")
      .as[(Long, Long, Long)].head()
    val nIn = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(stats._1 == nIn && stats._2 <= stats._1 && stats._3 <= stats._2)
    assert(curated.count() == stats._3 && stats._3 > 0)
    // PII redaction ran: no raw fixture emails survive
    assert(curated.filter(col("text").rlike(
      graft.ext.TextAnalysis.EmailRe)).isEmpty)
  }

  test("prepare-corpus --scrub unicode and --drop-secrets gate the output") {
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("graft-cli-prepare2").toString + "/curated"
    Main.main(Array("prepare-corpus", "--corpus", s"$sf/documents.parquet",
      "--target", out, "--scrub", "unicode", "--drop-secrets", "8"))
    val curated = spark.read.parquet(out)
    assert(curated.count() > 0)
    // unicode scrub ran: output is lowercase letters/digits/spaces only
    assert(curated.filter(!col("text").rlike("^[\\p{Ll}\\p{Nd} ]*$")).isEmpty)
    // no 8+-char token with >2.0-nat entropy survives (fixture tokens
    // max out at 8 chars; all-distinct ones score ln 8 > 2.0)
    val flagged = graft.ext.TextAnalysis.secretScan(curated,
        minLen = 8, entropyPerChar = 3.0)
      .filter(col("high_entropy") || col("looks_hex") || col("looks_b64"))
    assert(flagged.isEmpty)
  }

  test("encode-corpus applies persisted tokenizers: bpe and unigram round-trip the library calls") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-cli-encode").toString
    val corpus = s"$sf/documents.parquet"
    // unigram: train, persist, encode from the CLI, compare to library
    Main.main(Array("unigram-train", "--corpus", corpus,
      "--target", s"$root/uv", "--rounds", "1"))
    Main.main(Array("encode-corpus", "--corpus", corpus,
      "--vocab", s"$root/uv", "--method", "unigram", "--target", s"$root/uenc"))
    val uGot = spark.read.parquet(s"$root/uenc").count()
    val uWant = graft.ext.Corpus.unigramEncode(
        spark.read.parquet(corpus), spark.read.parquet(s"$root/uv")).count()
    assert(uGot == uWant && uWant > 0)
    // bpe: same lifecycle
    Main.main(Array("bpe-train", "--corpus", corpus,
      "--merges", "4", "--target", s"$root/bm"))
    Main.main(Array("encode-corpus", "--corpus", corpus,
      "--vocab", s"$root/bm", "--method", "bpe", "--target", s"$root/benc"))
    val merges = spark.read.parquet(s"$root/bm").orderBy("rank")
      .select("left_sym", "right_sym")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val bWant = graft.ext.Corpus.bpeEncode(spark.read.parquet(corpus), merges).count()
    assert(spark.read.parquet(s"$root/benc").count() == bWant && bWant > 0)
    intercept[RuntimeException](Main.main(Array("encode-corpus", "--corpus", corpus,
      "--vocab", s"$root/bm", "--method", "nope", "--target", s"$root/x")))
  }

  test("prepare-code, chunk-corpus, score-eval and mine-bitext verbs " +
    "write results through argv") {
    import spark.implicits._
    val filesDir = Files.createTempDirectory("graft-cli-code-in").toString
    Seq((1L, "src/app.py", "# c\nx = 1\n"),
      (2L, "notes.txt", "#!/bin/bash\necho\n"))
      .toDF("file_id", "path", "text").write.mode("overwrite").parquet(filesDir)
    val codeOut = Files.createTempDirectory("graft-cli-code").toString
    Main.main(Array("prepare-code", "--files", filesDir, "--target", codeOut))
    val c = spark.read.parquet(codeOut)
    assert(c.count() == 2 && c.columns.contains("lang") &&
      c.columns.contains("category") && c.columns.contains("n_comment_lines"))

    val chunkOut = Files.createTempDirectory("graft-cli-chunk").toString
    Main.main(Array("chunk-corpus", "--corpus", s"$sf/documents.parquet",
      "--target", chunkOut, "--size", "40", "--overlap", "8"))
    assert(spark.read.parquet(chunkOut).columns.contains("chunk"))

    val predsDir = Files.createTempDirectory("graft-cli-preds-in").toString
    Seq((1L, "Paris.", Seq("the paris")))
      .toDF("pred_id", "pred", "refs").write.mode("overwrite").parquet(predsDir)
    val evalOut = Files.createTempDirectory("graft-cli-eval").toString
    Main.main(Array("score-eval", "--preds", predsDir, "--target", evalOut))
    val e = spark.read.parquet(evalOut).collect()(0)
    assert(e.getAs[Boolean]("em") && e.getAs[Double]("best_f1") == 1.0)

    val srcDir = Files.createTempDirectory("graft-cli-bt-src").toString
    val tgtDir = Files.createTempDirectory("graft-cli-bt-tgt").toString
    Seq((10L, Seq(2.0, 0.0))).toDF("src_id", "embedding")
      .write.mode("overwrite").parquet(srcDir)
    Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.6, 0.8)))
      .toDF("tgt_id", "embedding").write.mode("overwrite").parquet(tgtDir)
    val btOut = Files.createTempDirectory("graft-cli-bt").toString
    Main.main(Array("mine-bitext", "--src", srcDir, "--tgt", tgtDir,
      "--target", btOut, "--planes", "2", "--dim", "2"))
    val b = spark.read.parquet(btOut).collect()(0)
    assert(b.getAs[Long]("best_tgt_id") == 0L)
  }

  test("extract-archive verb dispatches tar and docx through argv; " +
    "unknown format fails through usage") {
    import spark.implicits._
    import java.io.ByteArrayOutputStream
    import java.util.zip.{CRC32, ZipOutputStream, ZipEntry}
    // stored-entry docx via the JDK writer
    val xml = "<w:document><w:body><w:p><w:r><w:t>cli text</w:t></w:r>" +
      "</w:p></w:body></w:document>"
    val zbos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(zbos)
    z.setMethod(ZipOutputStream.STORED)
    val data = xml.getBytes("UTF-8")
    val e = new ZipEntry("word/document.xml")
    e.setSize(data.length); e.setCompressedSize(data.length)
    val crc = new CRC32(); crc.update(data); e.setCrc(crc.getValue)
    z.putNextEntry(e); z.write(data); z.closeEntry(); z.close()
    val docxDir = Files.createTempDirectory("graft-cli-docx-in").toString
    Seq((1L, zbos.toByteArray)).toDF("doc_id", "payload")
      .write.mode("overwrite").parquet(docxDir)
    val docxOut = Files.createTempDirectory("graft-cli-docx").toString
    Main.main(Array("extract-archive", "--payloads", docxDir,
      "--format", "docx", "--target", docxOut))
    assert(spark.read.parquet(docxOut).collect()(0)
      .getAs[String]("text") == "cli text\n")
    intercept[RuntimeException](Main.main(Array("extract-archive",
      "--payloads", docxDir, "--format", "rar", "--target", docxOut)))
    // round-12 verbs: zip-list over the same archive; wiki-corpus
    val zlOut = Files.createTempDirectory("graft-cli-zl").toString
    Main.main(Array("extract-archive", "--payloads", docxDir,
      "--format", "zip-list", "--target", zlOut))
    assert(spark.read.parquet(zlOut).collect()(0)
      .getAs[String]("name") == "word/document.xml")
    val wikiDir = Files.createTempDirectory("graft-cli-wiki-in").toString
    val wxml = "<mediawiki><page><title>T</title><ns>0</ns><id>1</id>" +
      "<revision><id>9</id><text>'''T''' body</text></revision></page>" +
      "</mediawiki>"
    Seq((1L, wxml.getBytes("UTF-8"))).toDF("doc_id", "payload")
      .write.mode("overwrite").parquet(wikiDir)
    val wikiOut = Files.createTempDirectory("graft-cli-wiki").toString
    Main.main(Array("extract-archive", "--payloads", wikiDir,
      "--format", "wiki-corpus", "--target", wikiOut))
    val w = spark.read.parquet(wikiOut).collect()(0)
    assert(w.getAs[String]("title") == "T" &&
      w.getAs[String]("text") == "T body")
    // round-13 verbs: zstd + mbox over pinned/synthesized payloads
    val zIn = Files.createTempDirectory("graft-cli-zstd-in").toString
    val helloZ = ("28b52ffd241081000068656c6c6f207a73746420776f726c64" +
      "7f816860").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    Seq((1L, helloZ)).toDF("doc_id", "payload")
      .write.mode("overwrite").parquet(zIn)
    val zOut = Files.createTempDirectory("graft-cli-zstd").toString
    Main.main(Array("extract-archive", "--payloads", zIn,
      "--format", "zstd", "--target", zOut))
    assert(new String(spark.read.parquet(zOut).collect()(0)
      .getAs[Array[Byte]]("data"), "UTF-8") == "hello zstd world")
    val mIn = Files.createTempDirectory("graft-cli-mbox-in").toString
    val mbox = "From a@x Thu Jan  1 00:00:00 2026\nSubject: s\n" +
      "Content-Type: text/plain\n\nbody line\n"
    Seq((1L, mbox.getBytes("UTF-8"))).toDF("doc_id", "payload")
      .write.mode("overwrite").parquet(mIn)
    val mOut = Files.createTempDirectory("graft-cli-mbox").toString
    Main.main(Array("extract-archive", "--payloads", mIn,
      "--format", "mbox", "--target", mOut))
    val mr = spark.read.parquet(mOut).collect()(0)
    assert(mr.getAs[String]("subject") == "s" &&
      mr.getAs[String]("cleaned") == "body line\n")
  }

  test("round-14 verbs: ods-cells, mp3-duration, 7z-members through argv") {
    import spark.implicits._
    import java.io.ByteArrayOutputStream
    import java.util.zip.{CRC32, ZipOutputStream, ZipEntry}
    // ods-cells over a stored-entry package
    val content = "<office:document-content><office:body>" +
      "<office:spreadsheet><table:table><table:table-row>" +
      "<table:table-cell office:value=\"5\"/><table:table-cell>" +
      "<text:p>cli</text:p></table:table-cell></table:table-row>" +
      "</table:table></office:spreadsheet></office:body>" +
      "</office:document-content>"
    val zbos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(zbos)
    z.setMethod(ZipOutputStream.STORED)
    val data = content.getBytes("UTF-8")
    val e = new ZipEntry("content.xml")
    e.setSize(data.length); e.setCompressedSize(data.length)
    val crc = new CRC32(); crc.update(data); e.setCrc(crc.getValue)
    z.putNextEntry(e); z.write(data); z.closeEntry(); z.close()
    val odsIn = Files.createTempDirectory("graft-cli-ods-in").toString
    Seq((1L, zbos.toByteArray)).toDF("doc_id", "payload")
      .write.mode("overwrite").parquet(odsIn)
    val odsOut = Files.createTempDirectory("graft-cli-ods").toString
    Main.main(Array("extract-archive", "--payloads", odsIn,
      "--format", "ods-cells", "--target", odsOut))
    val odsRows = spark.read.parquet(odsOut).orderBy("col").collect()
      .map(r => (r.getLong(3), r.getString(4)))
    assert(odsRows.toSeq == Seq((1L, "5"), (2L, "cli")))
    // mp3-duration over a Xing payload
    val mp3 = Array[Byte](0xff.toByte, 0xfb.toByte, 0x90.toByte, 0) ++
      new Array[Byte](32) ++ "Xing".getBytes ++
      Array[Byte](0, 0, 0, 1, 0, 0, 0, 50)
    val mpIn = Files.createTempDirectory("graft-cli-mp3-in").toString
    Seq((1L, mp3)).toDF("doc_id", "payload")
      .write.mode("overwrite").parquet(mpIn)
    val mpOut = Files.createTempDirectory("graft-cli-mp3").toString
    Main.main(Array("extract-archive", "--payloads", mpIn,
      "--format", "mp3-duration", "--target", mpOut))
    val mr = spark.read.parquet(mpOut).collect()(0)
    assert(mr.getAs[Long]("frames") == 50L &&
      mr.getAs[String]("method") == "xing")
    // 7z-members over a real commons-compress archive
    import org.apache.commons.compress.archivers.sevenz.{SevenZArchiveEntry, SevenZOutputFile}
    val szf = Files.createTempFile("graft-cli", ".7z").toFile
    val sz = new SevenZOutputFile(szf)
    val se = new SevenZArchiveEntry
    se.setName("a.txt")
    sz.putArchiveEntry(se)
    sz.write("seven".getBytes("UTF-8"))
    sz.closeArchiveEntry(); sz.close()
    val szIn = Files.createTempDirectory("graft-cli-7z-in").toString
    Seq((1L, Files.readAllBytes(szf.toPath)))
      .toDF("doc_id", "payload").write.mode("overwrite").parquet(szIn)
    val szOut = Files.createTempDirectory("graft-cli-7z").toString
    Main.main(Array("extract-archive", "--payloads", szIn,
      "--format", "7z-members", "--target", szOut))
    val sr = spark.read.parquet(szOut).collect()(0)
    assert(sr.getAs[String]("name") == "a.txt" &&
      new String(sr.getAs[Array[Byte]]("data"), "UTF-8") == "seven")
  }

  test("unknown verb and missing flags fail loudly") {
    intercept[RuntimeException](Main.main(Array("frobnicate", "--x", "y")))
    intercept[RuntimeException](Main.main(Array("copy-tree", "--data", sf)))
  }

  test("bad flag VALUES fail through the usage text, not a raw conversion error") {
    val e = intercept[RuntimeException](Main.main(Array("copy-tree",
      "--data", sf, "--target", "/tmp/x", "--path", "a->b.x",
      "--root", "a", "--ids", "1,x")))
    assert(e.getMessage.contains("bad value 'x' for --ids")
      && e.getMessage.contains("usage:"))
    val e2 = intercept[RuntimeException](Main.main(Array("replay",
      "--dump", "/tmp/x", "--url", "jdbc:derby:memory:z",
      "--allow-production", "maybe")))
    assert(e2.getMessage.contains("bad value 'maybe' for --allow-production")
      && e2.getMessage.contains("usage:"))
  }

  test("curate-stream verb drains a landing directory and exits (AvailableNow)") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-cli-curate").toString
    val docs = load("documents").limit(100)
    val existing = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    graft.ext.Dedup.lshBands(graft.ext.Dedup.minhash(existing, k = 6),
      bands = 3, rowsPerBand = 2).write.parquet(s"$root/index")
    graft.sources.CorpusIO.writeJsonl(batch, s"$root/landing")
    Main.main(Array("curate-stream", "--landing", s"$root/landing",
      "--index", s"$root/index", "--corpus", s"$root/corpus",
      "--checkpoint", s"$root/ckpt"))
    val sunk = spark.read.parquet(s"$root/corpus")
    assert(sunk.count() > 0 && sunk.count() <= batch.count())
  }

  test("ingest-embeddings verb folds a landing directory into an IVF index and exits") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-cli-ivf").toString
    val emb = load("embeddings").limit(200)
    emb.repartition(2).write.parquet(s"$root/landing")
    Main.main(Array("ingest-embeddings", "--landing", s"$root/landing",
      "--index", s"$root/index", "--checkpoint", s"$root/ckpt"))
    val idx = graft.ext.Similarity.ivfRead(spark, s"$root/index")
    assert(idx.assigned.count() == emb.count())
    assert(graft.ext.Similarity.ivfQuery(idx, Seq(0L), k = 3, nProbe = 2)
      .count() == 3)
  }

  test("round-16 verbs: ass-subtitles, rar-list, wasm-meta through argv") {
    import spark.implicits._
    def hx(h: String): Array[Byte] =
      h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // ASS: one dialogue event via the declared Format order
    val assIn = Files.createTempDirectory("graft-cli-ass-in").toString
    val ass = "[Events]\nFormat: Layer, Start, End, Style, Text\n" +
      "Dialogue: 3,0:00:01.00,0:00:02.00,Top,hi there\n"
    Seq((1L, ass.getBytes("UTF-8"))).toDF("doc_id", "payload")
      .write.mode("overwrite").parquet(assIn)
    val assOut = Files.createTempDirectory("graft-cli-ass").toString
    Main.main(Array("extract-archive", "--payloads", assIn,
      "--format", "ass-subtitles", "--target", assOut))
    val ar = spark.read.parquet(assOut).collect()(0)
    assert(ar.getAs[Int]("layer") == 3 &&
      ar.getAs[String]("style") == "Top" &&
      ar.getAs[String]("text") == "hi there")
    // RAR: the q359 python-writer RAR5 fixture
    val rarHex = "526172211a070100dcde5e35030100046878b64221020214068020" +
      "a40300f153655604f7e1c003010d6269672f6d6f64656c2e62696e6f706171" +
      "7565207061636b656420627974657321f7c9dde2140202030800a40300010a" +
      "73747265616d2e64617478797a19b23a3503050000"
    val rarIn = Files.createTempDirectory("graft-cli-rar-in").toString
    Seq((1L, hx(rarHex))).toDF("doc_id", "payload")
      .write.mode("overwrite").parquet(rarIn)
    val rarOut = Files.createTempDirectory("graft-cli-rar").toString
    Main.main(Array("extract-archive", "--payloads", rarIn,
      "--format", "rar-list", "--target", rarOut))
    val rr = spark.read.parquet(rarOut).orderBy("pos").collect()
    assert(rr.length == 2 && rr(0).getAs[String]("format") == "rar5" &&
      rr(0).getAs[String]("name") == "big/model.bin")
    // wasm: the q361 module
    val wasmHex = "0061736d01000000010a0260017f0060017f017f02200303656e" +
      "76036c6f67000003656e76036d656d0201010403656e760167037f00030201" +
      "010710020372756e0001066d656d6f727902000a0601040020000b000e0870" +
      "726f64756365726772616674"
    val wIn = Files.createTempDirectory("graft-cli-wasm-in").toString
    Seq((1L, hx(wasmHex))).toDF("doc_id", "payload")
      .write.mode("overwrite").parquet(wIn)
    val wOut = Files.createTempDirectory("graft-cli-wasm").toString
    Main.main(Array("extract-archive", "--payloads", wIn,
      "--format", "wasm-meta", "--target", wOut))
    val wr = spark.read.parquet(wOut).collect()(0)
    assert(wr.getAs[Int]("n_imports") == 3 &&
      wr.getAs[scala.collection.Seq[String]]("export_names")
        .toSeq == Seq("run", "memory"))
  }

  test("update verb upserts a parquet delta into Derby by pk, through argv") {
    import org.apache.spark.sql.functions.{col, lit}
    // stand the table up with rows 1..10
    val db = Files.createTempDirectory("graft-cli-upd").toString
    val url = s"jdbc:derby:$db/db;create=true"
    val customer = load("customer").filter(col("c_custkey") <= 10)
    Jdbc.executeSqlList(url, Seq(Jdbc.ddlFor("customer", customer.schema)))
    Jdbc.append(customer, url, "customer")
    // delta: one changed existing row (5) + one new row (9999)
    val delta = customer.filter(col("c_custkey") === 5)
      .withColumn("c_name", lit("UPDATED"))
      .union(customer.filter(col("c_custkey") === 1)
        .withColumn("c_custkey", lit(9999L)))
    val deltaDir = Files.createTempDirectory("graft-cli-delta").toString
    delta.write.mode("overwrite").parquet(deltaDir)
    Main.main(Array("update", "--data", sf, "--target", url,
      "--table", "customer", "--delta", deltaDir, "--pk", "c_custkey"))
    val back = Jdbc.read(spark, url, "customer")
    assert(back.count() == customer.count() + 1) // one insert, one in-place update
    assert(back.filter(col("c_custkey") === 5)
      .select("c_name").collect().head.getString(0) == "UPDATED")
    assert(back.filter(col("c_custkey") === 9999).count() == 1)
  }
}
