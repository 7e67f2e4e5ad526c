package graft.xml

import java.nio.file.{Files, Paths}

import scala.collection.parallel.CollectionConverters._

import org.apache.spark.sql.{SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Relational
import graft.sink.{CsvSink, Neo4jExport}

/** The full XML -> CSV pipeline (the reference's `main`,
  * /root/reference/XMLToCSV.py:365-411), Spark-first:
  *
  *  - ONE distributed parse, persisted, feeds both the schema
  *    inference and the data pass (the reference parses the XML twice)
  *  - flatten/collapse is a single shuffle-free map pass per record
  *    ([[Flatten.recordCells]]); per-type tables are map-only
  *    projections of it
  *  - the relation multimap (unbounded driver memory in the reference,
  *    :206-221) becomes shuffle-based distinct + broadcast join
  *  - global contiguous ids via zipWithIndex (no single-partition
  *    window)
  */
object XmlToCsv {

  final case class Config(
      xmlFile: String,
      dtdFile: String,
      outputFile: String,
      annotate: Boolean = false,
      neo4j: Boolean = false,
      relations: Seq[(String, String)] = Nil,
      singleFile: Boolean = true,
      permissive: Boolean = false,
      validate: Boolean = false,
      // "auto" = distributed line splitter when the input is
      // line-formatted (detected in the splitter's existing depth-scan
      // job), single-pass-per-file StAX chunker otherwise; "line" /
      // "record" force one path
      layout: String = "auto")

  final case class Result(
      recordCounts: Map[String, Long],
      schema: Map[String, Seq[String]],
      columnMeta: Map[(String, String), Annotate.ColumnMeta])

  private def timed[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[graft.xml] $label: ${(System.nanoTime() - t0) / 1e9}%.1fs")
    r
  }

  def run(spark: SparkSession, config: Config): Result = {
    validate(config)
    val annotate = config.annotate || config.neo4j
    val (stem, ext) = splitExt(config.outputFile)

    val dtd = Dtd.parse(config.dtdFile)
    // cache the ROW form: a cached typed Dataset re-serializes objects
    // on every downstream scan
    val records = timed("readRows (splitter jobs)")(
      XmlRecords.readRows(spark, config.xmlFile, dtd,
        permissive = config.permissive, validate = config.validate,
        layout = config.layout)).persist()
    try {
      timed("parse")(records.count())
      val typedRecords =
        records.as[XmlRecord](org.apache.spark.sql.Encoders.product[XmlRecord])
      val schema = timed("inferColumns")(Flatten.inferColumns(typedRecords, dtd))

      // flatten every record in ONE map pass (collapse happens inside
      // the record — zero shuffles), then assign the K1 contiguous
      // document-order ids across ALL record types in the SAME cached
      // table: one pos sort + zipWithIndex. Because the sort range-
      // partitions by pos and ids are dense in pos order, every
      // narrow consumer of this cache is already globally id-ordered —
      // no per-type re-sort, no (pos, id) join anywhere.
      val rowsWithId = Relational.withContiguousId(
        Flatten.recordCells(typedRecords).orderBy("pos"), idCol = "id").persist()
      val nRecords = timed("flatten cells + ids")(rowsWithId.count())

      // broadcast the (pos, id) map for the relation pass while it
      // fits comfortably; beyond that Catalyst falls back to a
      // sort-merge join on pos
      val idMap = rowsWithId.select(col("pos"), col("id"))
      val idSide = if (nRecords < 5000000L) broadcast(idMap) else idMap

      // W1/W2: per-type data CSV (header row only when not annotating).
      // Single-file mode relies on the cache's id order for byte-stable
      // golden output; directory mode writes partition-parallel and
      // unsorted (the scale path — order buys nothing there). Types
      // are written CONCURRENTLY — the jobs are independent map-only
      // scans of the cache, so parallel submission overlaps the
      // small types' scheduler latency and the driver-side merges
      // with the big types' scans.
      timed("csv writes")(schema.toSeq.par.foreach { case (t, cols) =>
        val df = rowsWithId.where(col("recordType") === t)
          .select((col("id") +:
            cols.map(c => try_element_at(col("cells"), lit(c)).as(c))): _*)
        if (config.singleFile)
          CsvSink.writeSingleFile(df, s"${stem}_$t$ext",
            if (annotate) None else Some(("id" +: cols).mkString(";")))
        else
          CsvSink.writeDir(df, s"${stem}_$t$ext", header = !annotate)
      })

      // one exploded-values pass shared by annotation and relations —
      // materialized eagerly because both consumers submit concurrent
      // jobs over it (a parallel first touch would double-compute)
      val needExploded = annotate || config.relations.nonEmpty
      val exploded =
        if (needExploded) timed("explodedValues") {
          val e = Flatten.explodedValues(records, schema).persist()
          e.count()
          e
        } else null

      // A2-A4 + W3: annotated header sidecars (single line, no
      // trailing newline — XMLToCSV.py:304-305)
      val meta: Map[(String, String), Annotate.ColumnMeta] =
        if (annotate) {
          val m = timed("columnMeta")(Annotate.columnMeta(exploded))
          schema.keys.foreach { t =>
            writeText(s"${stem}_${t}_header$ext", Annotate.headerLine(t, m, config.neo4j))
          }
          m
        } else Map.empty

      // J1-J3 + W4: relation node/edge tables, header line embedded in
      // the file (XMLToCSV.py:347-362); ids continue after the records'
      if (config.relations.nonEmpty) timed("relations") {
        val explodedWithIds = exploded
          .join(idSide, "pos")
          .persist()
        // materialize the shared cache ONCE before fanning out — a
        // concurrent first touch from the parallel stage below would
        // make every relation recompute the explode+join
        explodedWithIds.count()
        // stage 1: each relation's pair set and distinct-value count
        // are independent — build them concurrently. Only the node-id
        // OFFSETS chain sequentially (each relation's ids continue
        // after the previous relation's nodes), and those need just
        // the counts, so the cheap cumulative sum below is the only
        // serial step.
        val counted = config.relations.par.map { case (attr, rel) =>
          val pairs = explodedWithIds
            // same value semantics as Relational.relationPairs: empty
            // strings are not relation values (the reference only ever
            // folds non-empty text, XMLToCSV.py:190,206-221)
            .where(col("col_name") === attr && col("value").isNotNull && col("value") =!= "")
            .select(col("id").as("parent_id"), col("value").as("v"))
            .distinct()
            .persist()
          (attr, rel, pairs, pairs.select(col("v")).distinct().count())
        }.toList
        var offset = nRecords
        val staged = counted.map { case (attr, rel, pairs, nNodes) =>
          val nodes = Relational.relationNodes(pairs, offset).persist()
          offset += nNodes
          (attr, rel, pairs, nodes)
        }
        // materialize each node cache before its two concurrent
        // consumers (node write + edge broadcast) race to build it
        staged.par.foreach(_._4.count())
        // stage 2: all node/edge writes are independent — run them
        // concurrently (same rationale as the per-type CSV writes)
        staged.par.foreach { case (attr, rel, pairs, nodes) =>
          val edges = Relational.relationEdges(pairs, nodes)
          if (config.singleFile) {
            Seq(
              () => CsvSink.writeSingleFile(
                nodes.select(col("node_id"), col("v")).orderBy("node_id"),
                s"${stem}_$attr$ext", Some(s":ID;$attr:string")),
              () => CsvSink.writeSingleFile(edges.orderBy("start_id", "end_id"),
                s"${stem}_${attr}_$rel$ext", Some(":START_ID;:END_ID")),
            ).par.foreach(_.apply())
          } else {
            // scale path: partition-parallel, UNSORTED — a global sort
            // before a multi-part write adds a range-partition exchange
            // and buys nothing (neo4j-admin import does not need order)
            CsvSink.writeDir(nodes.select(col("node_id"), col("v")),
              s"${stem}_$attr$ext", header = false)
            writeText(s"${stem}_${attr}_header$ext", s":ID;$attr:string")
            CsvSink.writeDir(edges,
              s"${stem}_${attr}_$rel$ext", header = false)
            writeText(s"${stem}_${attr}_${rel}_header$ext", ":START_ID;:END_ID")
          }
        }
        staged.foreach { case (_, _, pairs, nodes) =>
          pairs.unpersist(); nodes.unpersist()
        }
        explodedWithIds.unpersist()
      }

      // W5: neo4j-admin import script (reference writes to CWD; we put
      // it next to the output files)
      if (config.neo4j) {
        val cmd = Neo4jExport.importCommand(
          stem, ext, schema.keys.toSeq.sorted, config.relations)
        val dir = Paths.get(stem).toAbsolutePath.getParent
        writeText(dir.resolve("neo4j_import.sh").toString, "#!/bin/bash\n" + cmd)
      }

      if (exploded != null) exploded.unpersist()
      // kept-record counts per type straight off the cached rows (one
      // tiny aggregate — no per-type jobs, no extra cache)
      val counted = timed("counts")(
        rowsWithId.groupBy("recordType").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap)
      val counts = schema.keys.map(t => t -> counted.getOrElse(t, 0L)).toMap
      rowsWithId.unpersist()
      Result(counts, schema, meta)
    } finally records.unpersist()
  }

  private def validate(config: Config): Unit = {
    // a glob (sharded dump: "shards/part-*.xml") is resolved by the
    // Hadoop reader, which raises its own clear error on zero matches
    val isGlob = config.xmlFile.exists(c => "*?[{".contains(c))
    require(isGlob || Files.exists(Paths.get(config.xmlFile)),
      s"XML file not found: ${config.xmlFile}")
    require(Files.exists(Paths.get(config.dtdFile)), s"DTD file not found: ${config.dtdFile}")
    val attrs = config.relations.map(_._1)
    val rels = config.relations.map(_._2)
    require(attrs.distinct.size == attrs.size, s"duplicate relation attributes: $attrs")
    require(rels.distinct.size == rels.size, s"duplicate relation names: $rels")
    config.relations.foreach { case (a, r) =>
      require(a.nonEmpty && r.nonEmpty, s"relation must be attribute:relation, got '$a:$r'")
    }
  }

  private def splitExt(path: String): (String, String) = {
    val i = path.lastIndexOf('.')
    val j = path.lastIndexOf('/')
    if (i > j) (path.substring(0, i), path.substring(i)) else (path, "")
  }

  private def writeText(path: String, content: String): Unit =
    Files.write(Paths.get(path), content.getBytes("UTF-8"))

  /** CLI mirroring the reference's argparse surface (C1/V1,
    * XMLToCSV.py:43-76): XMLToCSV xml dtd outfile [--annotate]
    * [--neo4j] [--relations attr:rel ...]
    */
  def main(args: Array[String]): Unit = {
    val usage = "usage: XmlToCsv <xml> <dtd> <out.csv> [--annotate] [--neo4j] [--validate] [--layout line|record|auto] [--relations attr:rel ...]"
    require(args.length >= 3, usage)
    var config = Config(args(0), args(1), args(2))
    var i = 3
    while (i < args.length) {
      args(i) match {
        case "--annotate" => config = config.copy(annotate = true); i += 1
        case "--neo4j" => config = config.copy(neo4j = true, annotate = true); i += 1
        case "--dirs" => config = config.copy(singleFile = false); i += 1 // distributed multi-part output
        case "--permissive" => config = config.copy(permissive = true); i += 1 // skip malformed records
        case "--validate" => config = config.copy(validate = true); i += 1 // strict DTD validation (vocab + attrs + content models)
        case "--layout" => // line | record | auto (default auto)
          require(i + 1 < args.length, "--layout needs a value: line|record|auto")
          config = config.copy(layout = args(i + 1)); i += 2
        case "--relations" =>
          i += 1
          val rels = Seq.newBuilder[(String, String)]
          while (i < args.length && !args(i).startsWith("--")) {
            args(i).split(":", 2) match {
              case Array(a, r) if a.nonEmpty && r.nonEmpty => rels += (a -> r)
              case _ => throw new IllegalArgumentException(s"bad relation '${args(i)}', want attr:rel")
            }
            i += 1
          }
          config = config.copy(relations = config.relations ++ rels.result())
        case other => throw new IllegalArgumentException(s"unknown arg '$other'\n$usage")
      }
    }
    val spark = graft.Session.build(sys.env.getOrElse("SPARK_MASTER", "local[*]"),
      sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors()))
    try {
      val t0 = System.nanoTime()
      val res = run(spark, config)
      println(s"Done after ${(System.nanoTime() - t0) / 1e9} seconds; " +
        res.recordCounts.toSeq.sortBy(_._1).map { case (t, n) => s"$t=$n" }.mkString(", "))
    } finally spark.stop()
  }
}
