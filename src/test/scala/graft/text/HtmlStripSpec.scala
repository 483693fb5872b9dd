package graft.text

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** HtmlStrip unit semantics + the t29 integration claim: page chrome that
  * t21 mis-scores pre-strip scores correctly post-strip.
  */
class HtmlStripSpec extends SparkSpec {

  import org.apache.spark.sql.{Column, DataFrame}

  private def stripOf(html: String): String = {
    import spark.implicits._
    Seq(html).toDF("h").select(HtmlStrip.mainContent(col("h"))).head.getString(0)
  }

  test("tag strip, entity decode, whitespace collapse") {
    val prose = "the quick value table scan joins a window of rows here now"
    assert(stripOf(s"<div><p>$prose</p></div>") === prose)
    // entities decode, &amp; last (no double decode)
    assert(stripOf(s"<p>$prose &amp;lt; &quot;x&quot; &#39;y&#39;</p>") ===
      s"$prose &lt; \"x\" 'y'")
    // nested inline tags strip, whitespace collapses
    assert(stripOf(s"<p>$prose <b>bold</b>   and <span>more</span></p>") ===
      s"$prose bold and more")
  }

  test("nav, link lists, and legal footers are dropped; prose survives") {
    val prose = "the quick value table scan joins a window of rows here now"
    val page =
      "<html><body>" +
        "<nav><a href=\"/\">Home</a> <a href=\"/x\">Archive page</a></nav>" +
        s"<div><p>$prose</p></div>" +
        "<ul><li><a href=\"/1\">Related article one here</a></li>" +
        "<li><a href=\"/2\">Another related article link</a></li></ul>" +
        "<footer>Copyright 2024 example. All rights reserved.</footer>" +
        "</body></html>"
    assert(stripOf(page) === prose)
    // a long link-heavy block fails the 25% link-density rule even
    // though it clears the length floor
    val linkFarm = "<div>" + (1 to 8).map(i =>
      s"<a href=\"/$i\">link text number $i</a>").mkString(" ") + "</div>"
    assert(stripOf(s"<html><body>$linkFarm<p>$prose</p></body></html>") === prose)
    // the same words NOT inside anchors survive (density, not vocabulary)
    val plain = (1 to 8).map(i => s"link text number $i").mkString(" ")
    assert(stripOf(s"<html><body><p>$plain</p></body></html>") === plain)
  }

  test("short blocks (titles, crumbs, buttons) fall below the length floor") {
    assert(stripOf("<title>My Site</title><p>ok then</p>") === "")
  }

  test("script and style BODIES are removed, not just their tags") {
    val prose = "the quick value table scan joins a window of rows here now"
    // a >25-char inline script body with low link density and no marker
    // words — without span removal it passes keepOf as "content"
    val js = "function track(x) { return x + offset * 42; } var offset = 7;"
    val css = "body { margin: 0; padding: 0; } .main { color: #222222; }"
    assert(stripOf(
      s"<html><head><style>$css</style></head><body>" +
        s"<script type=\"text/javascript\">$js</script>" +
        s"<p>$prose</p><script>$js</script></body></html>") === prose)
    // case-insensitive, multi-line bodies (dotall), attributes on the tag
    assert(stripOf(
      s"<SCRIPT src=\"/a.js\">\nline one of code;\nline two is longer here;\n" +
        s"</SCRIPT><p>$prose</p>") === prose)
    // script CONTENT gone — not merely delimited into its own block
    val page = s"<div><p>$prose</p></div><script>$js</script>"
    import spark.implicits._
    val kept = Seq(page).toDF("h")
      .select(HtmlStrip.nBlocks(col("h")).as("nb"),
        HtmlStrip.nKept(col("h")).as("nk")).head
    assert(kept.getInt(0) === 1 && kept.getInt(1) === 1)
  }

  test("t21 mis-scores chrome-wrapped pages; stripping restores its verdict") {
    // three dirs with the SAME documents table: original, chrome-wrapped
    // ("scraped"), and stripped-back — t21's quality buckets must be
    // poisoned by the middle one and exactly restored by the third
    val docs = Tables.load(spark, sfDir, "documents")
    val chrome = concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title></head><body><nav><a href=\"/\">Home</a> "),
      lit("<a href=\"/c\">Categories list</a> <a href=\"/t\">Tags</a></nav>"),
      lit("<div><p>"), col("text"), lit("</p></div>"),
      lit("<aside><ul><li><a href=\"/r1\">Related article one</a></li>"),
      lit("<li><a href=\"/r2\">Trending now today</a></li></ul></aside>"),
      lit("<footer>Copyright 2024 site. All rights reserved. "),
      lit("<a href=\"/privacy\">Privacy</a></footer></body></html>"))
    def writeDocs(df: DataFrame, name: String): String = {
      val dir = tempDir(name).toString
      df.select(Tables.documents.fieldNames.map(col): _*)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    val dirOrig = writeDocs(docs, "t29-orig")
    val dirDirty = writeDocs(docs.withColumn("text", chrome), "t29-dirty")
    val dirClean = writeDocs(
      spark.read.schema(Tables.documents)
        .parquet(s"$dirDirty/documents.parquet")
        .withColumn("text", HtmlStrip.mainContent(col("text"))), "t29-clean")

    def buckets(dir: String): Map[String, Long] =
      TextQueries.t21Quality.run(spark, dir)
        .select(col("bucket"), col("n_docs"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val orig = buckets(dirOrig)
    val dirty = buckets(dirDirty)
    val clean = buckets(dirClean)
    assert(dirty !== orig,
      "chrome must poison t21's token statistics — buckets were identical")
    assert(clean === orig,
      "stripped pages must score exactly like the originals")
    // and the strip is lossless on the content itself
    val lost = spark.read.schema(Tables.documents)
      .parquet(s"$dirClean/documents.parquet").select("doc_id", "text")
      .join(docs.select(col("doc_id"), col("text").as("t0")), Seq("doc_id"))
      .filter(col("text") =!= col("t0")).count()
    assert(lost === 0L, "main-content extraction altered document text")
  }
}
