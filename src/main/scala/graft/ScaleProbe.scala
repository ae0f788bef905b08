package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import RunScope.Pinning

/** Dev-only weak-scaling probe (NOT part of the driver contract):
  * times operator families UNCAPPED over the natural documents table
  * of a given sf dir — the source of PERF.md's weak-scaling rows.
  * `runMain graft.ScaleProbe <sfDir> <probe> [reps]`; those rows ran with
  * `SPARK_GRAFT_CPUS=32`.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val probe = args(1)
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession.local("graft-scaleprobe")
    val docs = Tables.load(spark, sfDir, "documents").pin()
    println(s"[probe] $probe over ${docs.count()} docs @ $sfDir")

    def run(tag: String)(df: => DataFrame): Unit = {
      (1 to reps).foreach { r =>
        val t0 = System.nanoTime()
        val n = df.queryExecution.toRdd.count()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"[probe] $tag rep$r: $s%.2f s ($n rows)")
      }
    }

    probe match {
      case "http" =>
        // full HTTP envelope corpus: one message per doc, mixed framing
        val msgs = docs.select(col("doc_id"),
          concat(
            lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; " +
              "charset=UTF-8\r\nContent-Length: "),
            length(coalesce(col("text"), lit(""))).cast("string"),
            lit("\r\n\r\n"), coalesce(col("text"), lit(""))).as("msg"))
          .pin()
        run("HttpMessage.responses")(
          graft.operators.HttpMessage.responses(msgs, "doc_id", "msg"))
      case "charset" =>
        run("CharsetDecode.decodeAll")(
          graft.operators.CharsetDecode.decodeAll(
            docs, "doc_id", "text"))
      case "langid" =>
        run("TrainedLangId.trainAndPredict")(
          graft.operators.TrainedLangId.trainAndPredict(
            docs, "doc_id", "text", "lang"))
      case "sitemap" =>
        // one urlset per DOC (host per doc mod 997): frontier scales
        // with the corpus, robots fixed per host
        val sm = docs.select(
          concat(lit("h"), (col("doc_id") % 997).cast("string"),
            lit(".example.net")).as("host"),
          concat(lit("https://h"), (col("doc_id") % 997).cast("string"),
            lit(".example.net/s/"), col("doc_id").cast("string"),
            lit(".xml")).as("url"),
          concat(lit("<urlset><url><loc>https://h"),
            (col("doc_id") % 997).cast("string"),
            lit(".example.net/p/"), col("doc_id").cast("string"),
            lit("</loc><lastmod>2024-05-01</lastmod></url>" +
              "<url><loc>https://h"),
            (col("doc_id") % 997).cast("string"),
            lit(".example.net/private/"), col("doc_id").cast("string"),
            lit("</loc></url></urlset>")).as("body"))
          .pin()
        val robots = sm.select(col("host")).distinct()
          .select(col("host"),
            lit("User-agent: *\nDisallow: /private/\n").as("robots"))
          .pin()
        run("Sitemap.governedFrontier")(
          graft.operators.Sitemap.governedFrontier(
            sm, "host", "url", "body", robots, "host", "robots", "bot"))
      case "tar" =>
        val out = RunScope.scratchDir("probe_tar")
        (1 to reps).foreach { r =>
          val t0 = System.nanoTime()
          graft.operators.ShardExport.writeTar(
            docs, "doc_id", "text", "source", 20000, out)
          val s = (System.nanoTime() - t0) / 1e9
          println(f"[probe] ShardExport.writeTar rep$r: $s%.2f s")
        }
      case "unigram-train" =>
        run("UnigramTokenizer.trainAndSegment")(
          graft.operators.UnigramTokenizer.trainAndSegment(
            docs, "text", rounds = 2))
      case "explain" =>
        val msgs = docs.select(col("doc_id"),
          concat(lit("HTTP/1.1 200 OK\r\nContent-Length: "),
            length(coalesce(col("text"), lit(""))).cast("string"),
            lit("\r\n\r\n"), coalesce(col("text"), lit(""))).as("msg"))
        println("=== HttpMessage.responses (uncheckpointed) ===")
        graft.operators.HttpMessage.responses(msgs, "doc_id", "msg")
          .explain("formatted")
        println("=== TrainedLangId.predict (uncheckpointed score) ===")
        val (model, priors) = graft.operators.TrainedLangId
          .train(docs, "text", "lang")
        graft.operators.TrainedLangId
          .predict(docs, "doc_id", "text", model, priors)
          .explain("formatted")
      case "links" =>
        // ~6 anchors per doc, mixed forms; host per doc mod 997
        val pages = docs.select(col("doc_id"),
          concat(lit("https://h"), (col("doc_id") % 997).cast("string"),
            lit(".example.net/a/b/p"), col("doc_id").cast("string"),
            lit(".html")).as("url"),
          concat(
            lit("<a href=\"https://ext"), (col("doc_id") % 7).cast("string"),
            lit(".example.com/x/"), col("doc_id").cast("string"),
            lit("\">1</a><a href='/r/"), col("doc_id").cast("string"),
            lit("'>2</a><a href=../u/"), col("doc_id").cast("string"),
            lit(">3</a><a href=\"?p=2\">4</a><a href=\"#t\">5</a>"),
            lit("<a href=\"//cdn.example.org/l.js\">6</a>")).as("html"))
          .pin()
        run("LinkExtract.outlinks")(
          graft.operators.LinkExtract.outlinks(
            pages, "doc_id", "url", "html"))
      case "meta" =>
        val pages = docs.select(col("doc_id"),
          concat(lit("<html lang=\"en\"><head><title>Doc "),
            col("doc_id").cast("string"),
            lit(" &amp; co</title><meta name=\"description\" content=\""),
            substring(coalesce(col("text"), lit("")), 1, 80),
            lit("\"><link rel=\"canonical\" href=\"https://c"),
            (col("doc_id") % 997).cast("string"), lit(".example.net/p/"),
            col("doc_id").cast("string"),
            lit("\"><meta property=\"og:title\" content=\"OG "),
            col("doc_id").cast("string"),
            lit("\"></head></html>")).as("html"))
          .pin()
        run("HtmlMeta.meta")(
          graft.operators.HtmlMeta.meta(pages, "doc_id", "html"))
      case "canon" =>
        // clusters of 5: target + 4 variants declaring it
        val g = (col("doc_id") / 5).cast("long")
        val tgt = concat(lit("https://s"), (g % 997).cast("string"),
          lit(".example.org/a/"), g.cast("string"))
        val pages = docs.select(col("doc_id"),
          when(col("doc_id") % 5 === 0, tgt)
            .otherwise(concat(tgt, lit("?v="),
              col("doc_id").cast("string"))).as("url"),
          when(col("doc_id") % 5 === 0, lit("<p>target</p>"))
            .otherwise(concat(lit("<link rel=\"canonical\" href=\""),
              tgt, lit("\">"))).as("html"))
          .pin()
        run("CanonicalDedup.collapse")(
          graft.operators.CanonicalDedup.collapse(
            pages, "doc_id", "url", "html"))
      case "schedule" =>
        val frontier = docs.select(
          concat(lit("h"), (col("doc_id") % 997).cast("string"),
            lit(".example.net")).as("host"),
          concat(lit("https://h"), (col("doc_id") % 997).cast("string"),
            lit(".example.net/p/"), col("doc_id").cast("string"))
            .as("url"))
          .pin()
        val delays = frontier.select(col("host")).distinct()
          .select(col("host"), lit(2L).as("delay")).pin()
        run("CrawlSchedule.schedule")(
          graft.operators.CrawlSchedule.schedule(
            frontier, "host", "url", delays, "host", "delay", 1))
      case "redirects" =>
        // one 2-hop chain per doc: /0 -> /1 -> /2 (200)
        val p = concat(lit("https://r"), (col("doc_id") % 997).cast("string"),
          lit(".example.net/d/"), col("doc_id").cast("string"), lit("/"))
        val caps = docs.select(col("doc_id"), explode(array(
          struct(concat(p, lit("0")).as("url"), lit(301).as("status"),
            concat(p, lit("1")).as("location")),
          struct(concat(p, lit("1")).as("url"), lit(302).as("status"),
            concat(p, lit("2")).as("location")),
          struct(concat(p, lit("2")).as("url"), lit(200).as("status"),
            lit(null).cast("string").as("location")))).as("cap"))
          .select(col("cap.url").as("url"), col("cap.status").as("status"),
            col("cap.location").as("location"))
          .pin()
        run("Redirects.finalTargets")(
          graft.operators.Redirects.finalTargets(
            caps, "url", "status", "location", 5))
      case "warcexport" =>
        val caps = docs.select(col("doc_id"),
          concat(lit("https://w"), (col("doc_id") % 997).cast("string"),
            lit(".example.org/p/"), col("doc_id").cast("string"))
            .as("url"),
          lit("2024-06-01T00:00:00Z").as("date"),
          substring(coalesce(col("text"), lit("")), 1, 4000).as("payload"))
          .pin()
        val out = RunScope.scratchDir("probe_warc")
        (1 to reps).foreach { r =>
          val t0 = System.nanoTime()
          graft.operators.WarcExport.write(
            caps, "doc_id", "url", "date", "payload", 1000, out)
          val s = (System.nanoTime() - t0) / 1e9
          println(f"[probe] WarcExport.write rep$r: $s%.2f s")
        }
      case "surt" =>
        val urls = docs.select(
          concat(lit("https://WWW.Site"), (col("doc_id") % 997).cast("string"),
            lit(".Example.org:443/P/"), col("doc_id").cast("string"),
            lit("?b=2&a=1#frag")).as("url"))
          .pin()
        run("Surt.surtKey")(
          urls.select(graft.operators.Surt.surtKey(col("url")).as("k")))
      case "unigram-apply" =>
        val pieces = graft.operators.UnigramTokenizer
          .trainPieces(docs, "text", rounds = 2)
        run("UnigramTokenizer.applyByVocab")(
          graft.operators.UnigramTokenizer.applyByVocab(
            docs, "doc_id", "text", pieces))
    }
    spark.stop()
  }
}
