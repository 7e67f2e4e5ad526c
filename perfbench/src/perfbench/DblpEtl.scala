package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.parallel.CollectionConverters._

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._

import graft.dev.DblpGen
import graft.operators.Relational
import graft.sink.{CsvSink, Neo4jExport}
import graft.xml.{Annotate, Dtd, Flatten, XmlRecord, XmlRecords, XmlToCsv}

/** The paper's own workload: a DBLP-shaped XML dump through the full
  * XML -> CSV pipeline (directory output, annotate + neo4j + validate,
  * two relations). Exercises xml, Relational and sink; bypasses Dedup,
  * Similarity and Retrieval.
  */
final class DblpEtl(nRecords: Int, nWarm: Int) extends Workload {
  val name = "dblp_etl"
  val layers = Seq("xml.readRows", "xml.parse", "xml.inferColumns", "xml.flatten",
    "sink.csv", "xml.explode", "xml.annotate", "relational.relations")

  private val relations = Seq("author" -> "authored_by", "cite" -> "cites")
  private var corpus: (String, String) = _
  private var warm: (String, String) = _
  private var expected: DblpGen.Expected = _

  def generate(dir: Path, seed: Long): Seq[(String, Long)] = {
    val recs = DblpGen.records(nRecords, seed).toVector
    corpus = DblpGen.writeCorpus(Files.createDirectories(dir.resolve("dblp")), recs)
    warm = DblpGen.writeCorpus(Files.createDirectories(dir.resolve("dblp_warm")), recs.take(nWarm))
    expected = DblpGen.expected(recs, relations)
    Seq("dblp_records" -> nRecords.toLong, "dblp_xml_bytes" -> Files.size(Paths.get(corpus._1)),
      "warm_records" -> nWarm.toLong)
  }

  private def config(xml: (String, String), out: Path) = XmlToCsv.Config(
    xmlFile = xml._1, dtdFile = xml._2, outputFile = out.resolve("dblp.csv").toString,
    annotate = true, neo4j = true, validate = true, singleFile = false,
    relations = relations)

  def warmup(ctx: Ctx): Unit = {
    val out = ctx.scratch("warm")
    XmlToCsv.run(ctx.spark, config(warm, out))
    Util.deleteTree(out)
  }

  private def check(tag: String, counts: Map[String, Long], schema: Map[String, Seq[String]]) = Seq(
    Check(s"$tag.counts", counts == expected.counts, s"${counts.toSeq.sorted} vs ${expected.counts.toSeq.sorted}"),
    Check(s"$tag.schema", schema == expected.schema, s"${schema.keys.toSeq.sorted}"))

  private def pass(ctx: Ctx): (XmlToCsv.Result, Double, Int) = {
    val out = ctx.scratch("pass")
    val t0 = System.currentTimeMillis()
    val (res, secs) = Util.timed(XmlToCsv.run(ctx.spark, config(corpus, out)))
    val jobs = ctx.ledger.window(t0, System.currentTimeMillis() + 1).sqlJobs
    Util.deleteTree(out)
    (res, secs, jobs)
  }

  def measure(ctx: Ctx, seconds: Double): Measured = {
    val secs = collection.mutable.ArrayBuffer.empty[Double]
    val jobs = collection.mutable.ArrayBuffer.empty[Int]
    var checks = Seq.empty[Check]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (secs.isEmpty || System.nanoTime() < deadline) {
      val (res, s, j) = pass(ctx)
      if (checks.isEmpty) checks = check("etl", res.recordCounts, res.schema)
      secs += s; jobs += j
      ctx.sampleHeap()
    }
    val rate = nRecords * secs.size / secs.sum
    Measured(
      itemsPerS = rate,
      p50Ms = Util.median(secs.toSeq) * 1e3,
      quality = if (checks.forall(_.ok)) 1.0 else 0.0,
      units = secs.toSeq,
      attempted = secs.size,
      checks = checks :+ Check("etl.jobs_repeat", jobs.distinct.size == 1, s"jobs per pass ${jobs.mkString(",")}"),
      report = Seq(Sample("etl_records_per_s", rate, "1/s", secs.size)))
  }

  def traceUnit(ctx: Ctx, spans: Spans): Traced = spans match {
    case NoSpans =>
      val (res, secs, jobs) = pass(ctx)
      Traced(secs, jobs, check("untraced", res.recordCounts, res.schema))
    case _ =>
      val out = ctx.scratch("traced")
      val t0 = System.currentTimeMillis()
      val ((counts, schema), secs) = Util.timed(stages(ctx, spans, out))
      val jobs = ctx.ledger.window(t0, System.currentTimeMillis() + 1).sqlJobs
      Util.deleteTree(out)
      Traced(secs, jobs, check("traced", counts, schema))
  }

  private def writeText(path: String, content: String): Unit =
    Files.write(Paths.get(path), content.getBytes(UTF_8))

  /** `XmlToCsv.run` in directory mode, taken apart into its public stage
    * calls in the same order, with one span around each layer's calls.
    */
  private def stages(ctx: Ctx, span: Spans, out: Path): (Map[String, Long], Map[String, Seq[String]]) = {
    val spark = ctx.spark
    val stem = out.resolve("dblp").toString
    val ext = ".csv"
    val dtd = Dtd.parse(corpus._2)
    val records = span("xml.readRows")(XmlRecords.readRows(spark, corpus._1, dtd,
      validate = true, layout = "auto")).persist()
    try {
      span("xml.parse")(records.count())
      val typed = records.as[XmlRecord](Encoders.product[XmlRecord])
      val schema = span("xml.inferColumns")(Flatten.inferColumns(typed, dtd))
      val (rowsWithId, nRecs) = span("xml.flatten") {
        val r = Relational.withContiguousId(Flatten.recordCells(typed).orderBy("pos"), idCol = "id").persist()
        (r, r.count())
      }
      val idMap = rowsWithId.select(col("pos"), col("id"))
      val idSide = if (nRecs < 5000000L) broadcast(idMap) else idMap
      span("sink.csv")(schema.toSeq.par.foreach { case (t, cols) =>
        val df = rowsWithId.where(col("recordType") === t)
          .select((col("id") +: cols.map(c => try_element_at(col("cells"), lit(c)).as(c))): _*)
        CsvSink.writeDir(df, s"${stem}_$t$ext", header = false)
      })
      val exploded = span("xml.explode") {
        val e = Flatten.explodedValues(records, schema).persist()
        e.count()
        e
      }
      span("xml.annotate") {
        val m = Annotate.columnMeta(exploded)
        schema.keys.foreach(t => writeText(s"${stem}_${t}_header$ext", Annotate.headerLine(t, m, true)))
      }
      span("relational.relations") {
        val explodedWithIds = exploded.join(idSide, "pos").persist()
        explodedWithIds.count()
        val counted = relations.par.map { case (attr, rel) =>
          val pairs = explodedWithIds
            .where(col("col_name") === attr && col("value").isNotNull && col("value") =!= "")
            .select(col("id").as("parent_id"), col("value").as("v"))
            .distinct()
            .persist()
          (attr, rel, pairs, pairs.select(col("v")).distinct().count())
        }.toList
        var offset = nRecs
        val staged = counted.map { case (attr, rel, pairs, nNodes) =>
          val nodes = Relational.relationNodes(pairs, offset).persist()
          offset += nNodes
          (attr, rel, pairs, nodes)
        }
        staged.par.foreach(_._4.count())
        staged.par.foreach { case (attr, rel, pairs, nodes) =>
          val edges = Relational.relationEdges(pairs, nodes)
          CsvSink.writeDir(nodes.select(col("node_id"), col("v")), s"${stem}_$attr$ext", header = false)
          writeText(s"${stem}_${attr}_header$ext", s":ID;$attr:string")
          CsvSink.writeDir(edges, s"${stem}_${attr}_$rel$ext", header = false)
          writeText(s"${stem}_${attr}_${rel}_header$ext", ":START_ID;:END_ID")
        }
        staged.foreach { case (_, _, pairs, nodes) => pairs.unpersist(); nodes.unpersist() }
        explodedWithIds.unpersist()
      }
      span("sink.csv") {
        val cmd = Neo4jExport.importCommand(stem, ext, schema.keys.toSeq.sorted, relations)
        writeText(out.resolve("neo4j_import.sh").toString, "#!/bin/bash\n" + cmd)
      }
      exploded.unpersist()
      val counts = span("xml.flatten") {
        val counted = rowsWithId.groupBy("recordType").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        schema.keys.map(t => t -> counted.getOrElse(t, 0L)).toMap
      }
      rowsWithId.unpersist()
      (counts, schema)
    } finally records.unpersist()
  }
}
