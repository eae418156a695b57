package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Incremental, Pipeline}
import graft.model.PageGen
import graft.store.TableIO
import graft.tools.KgCli

/** Crawl increments on a materialized KG. Set-up builds a base of pages;
  * each unit operation is one cycle on it:
  *
  *   1. `Incremental.appendPages` of a batch with fresh url ids
  *   2. a fixed round of read verbs through `KgCli.run`, over the mutated
  *      tables
  *   3. `Incremental.removePages` of the same batch
  *   4. `KgCli.run` `compact`, then `expire 1`
  *
  * A cycle issues some 400 Spark jobs and takes 20-45 s on a shared 4-core
  * VM, so set-up runs no untimed cycle: the timed cycle is the first, as
  * in a crawl job's own JVM, after the base build has warmed the shared
  * extraction, planning and write paths.
  *
  * After every cycle the triples, nodes, edges and components must hash
  * equal to the base build (a takedown is a rebuild on the remaining
  * pages), and each read verb must return the rows its arguments fix. */
final class IngestWorkload(spark: SparkSession, data: String, seed: Long) extends Main.Workload {
  import Main._
  val BasePages = 150
  val BatchPages = 20
  val minOps = 1
  private val cfg = PageGen.Config(nPages = BasePages + BatchPages, seed = seed)
  /** Pages are generated on the fly (a pure function of seed and index),
    * so no input table is written in set-up. */
  private def pages(from: Long, until: Long) = {
    import spark.implicits._
    val c = cfg
    spark.range(from, until).map(i => PageGen.page(c, i))
  }
  private def basePages = pages(0L, BasePages.toLong)
  private def batchPages = pages(BasePages.toLong, (BasePages + BatchPages).toLong)
  private val kg = s"$data/kg"
  private val hashed = Seq("triples", "nodes", "edges", "components")
  private val tables = hashed ++ Seq("sameas_evidence", "entity_refcounts")
  private var base: Map[String, Hash] = Map.empty
  private var baseBuild: Map[String, Any] = Map.empty
  private var nodeVerbs: Seq[(String, Seq[String], Long => Boolean)] = Nil

  def sizes: Map[String, Any] = Map("base_pages" -> BasePages, "batch_pages" -> BatchPages,
    "sentences_per_page" -> s"${cfg.sentMin}-${cfg.sentMax}", "buckets" -> TableIO.NumBuckets,
    "base_build" -> baseBuild)

  /** Content hashes through the merge-on-read readers, which serve current
    * canonical ids whatever remap is pending. */
  private def hashes(): Map[String, Hash] = hashed.map { n =>
    val df = n match {
      case "triples" => Incremental.readTriples(spark, kg)
      case "edges" => Incremental.readEdges(spark, kg)
      case _ => TableIO.read(spark, s"$kg/$n")
    }
    n -> contentHash(df)
  }.toMap

  /** The two ends of the smallest edge between distinct entities in the
    * current triples (canonical entity ids). */
  private def smallestEntityEdge(): (Long, Long) = {
    val e = graft.query.GraphAnalytics.entityEdges(Incremental.readTriples(spark, kg))
      .filter(col("src") =!= col("dst")).orderBy("src", "dst").head
    (e.getLong(0), e.getLong(1))
  }

  /** The read verbs, their arguments and the row counts those fix. Node ids
    * come from the base build: the smallest mention, and the Entity node of
    * the smallest entity edge's source (a node's code is its entity id).
    * Appending pages removes no node. It can merge entities, though, which
    * changes canonical ids in the triples, so `path` runs along the smallest
    * entity edge of the tables it reads, found after the append. */
  private def baseNodeVerbs(): Seq[(String, Seq[String], Long => Boolean)] = {
    val nodes = TableIO.read(spark, s"$kg/nodes")
    val mention = nodes.filter(col("kind") === "Mention").agg(min("id")).head.getLong(0)
    val a = smallestEntityEdge()._1
    val entityNode = nodes.filter(col("kind") === "Entity" && col("code") === a.toString)
      .agg(min("id")).head.getLong(0)
    Seq(
      ("lookup", Seq("Entity", s"^$a$$"), _ == 1),
      ("code", Seq(entityNode, mention).map(_.toString), _ == 2),
      ("location", Seq(mention.toString), _ == 1),
      ("slice", Seq("forward", "2", mention.toString), _ >= 1),
      ("coref", Seq(mention.toString), _ >= 1))
  }

  private def verbs(edge: (Long, Long)): Seq[(String, Seq[String], Long => Boolean)] =
    nodeVerbs ++ Seq(
      ("path", Seq(edge._1.toString, edge._2.toString, "4"), (_: Long) == 2),
      ("rank", Seq("10"), (_: Long) == 10),
      ("sameas", Seq("10"), (_: Long) <= 10))

  def setup(rec: Recorder): Unit = {
    TableIO.deleteRecursively(kg)
    val counters = rec.setupStep("base_build") {
      val t = Pipeline.run(spark, basePages, cfg.nPersons)
      val c = Pipeline.materialize(spark, t, kg)
      val flatMb = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
      t.flatEnc.unpersist(true)
      t.components.unpersist(true)
      c.map { case (k, v) => k -> v.toDouble } + ("flat_cache_mb" -> flatMb)
    }
    baseBuild = Seq("pagesIn", "pagesErrored", "mentions", "triples", "flat_cache_mb")
      .map(k => k -> counters.getOrElse(k, Double.NaN)).toMap
    check(counters.get("pagesErrored").contains(0.0), s"base pagesErrored = ${counters.get("pagesErrored")}")
    rec.setupStep("base_hashes") {
      base = hashes()
      nodeVerbs = baseNodeVerbs()
    }
    baseBuild += "files_on_disk" -> tables.map(t => t -> Hygiene.count(kg, t)._1).toMap
    val committed = TableIO.readManifest(s"$kg/triples").map(_.buckets.values.sum).getOrElse(-1L)
    check(committed > 0 && base("triples")._1 == committed,
      s"manifest claims $committed triples, the table holds ${base("triples")._1}")
  }

  def op(rec: Recorder): Unit = {
    val batch = batchPages
    val a = rec.call("ingest.append", "incremental")(
      Incremental.appendPages(spark, batch, kg, cfg.nPersons))
    check(a.pages > 0 && a.skippedTables.isEmpty,
      s"append ingested ${a.pages} pages, skipped ${a.skippedTables}")
    val edge = smallestEntityEdge()
    verbs(edge).foreach { case (verb, args, rows) =>
      val n = rec.call(s"ingest.read.$verb", "cli")(KgCli.run(spark, kg, verb, args).collect()).length
      check(rows(n.toLong), s"read verb $verb ${args.mkString(" ")} returned $n rows")
    }
    val r = rec.call("ingest.takedown", "incremental")(
      Incremental.removePages(spark, batch, basePages, kg, cfg.nPersons))
    check(r.pages == a.pages, s"takedown removed ${r.pages} of ${a.pages} pages")
    rec.call("ingest.compact", "cli")(KgCli.run(spark, kg, "compact", Nil).collect())
    rec.call("ingest.expire", "cli")(KgCli.run(spark, kg, "expire", Seq("1")).collect())
    rec.counter("incremental.remapped_ids", (a.remappedIds + r.remappedIds).toDouble)
    rec.counter("incremental.buckets_rewritten", (a.tripleBucketsRewritten +
      a.edgeBucketsRewritten + r.tripleBucketsRewritten + r.edgeBucketsRewritten +
      r.nodeBucketsRewritten).toDouble)
    rec.counter("incremental.dead_pairs", r.deadPairs.toDouble)
    val h = hashes()
    hashed.foreach(n => check(h(n) == base(n), s"$n ${h(n)} after a cycle differs from the base ${base(n)}"))
    Hygiene.record(rec, kg, tables)
  }
}

/** Store file hygiene: files on disk under each table's data directory
  * against the files its retained manifests claim. */
object Hygiene {
  import scala.jdk.CollectionConverters._

  /** (files on disk, files claimed) of one table. */
  def count(dir: String, table: String): (Long, Long) = {
    val td = s"$dir/$table"
    val claimed = (TableIO.readManifest(td).toSeq ++
      TableIO.snapshots(td).flatMap(TableIO.readManifestAt(td, _)))
      .flatMap(_.files.values.flatten).toSet.size.toLong
    val data = Paths.get(td, "data")
    val onDisk = if (!Files.exists(data)) 0L else {
      val w = Files.walk(data)
      try w.iterator().asScala.count(p => Files.isRegularFile(p)).toLong finally w.close()
    }
    (onDisk, claimed)
  }

  def record(rec: Main.Recorder, dir: String, tables: Seq[String]): Unit =
    tables.foreach { t =>
      val (onDisk, claimed) = count(dir, t)
      rec.counter(s"store.$t.files_on_disk", onDisk.toDouble)
      rec.counter(s"store.$t.files_claimed", claimed.toDouble)
    }
}
