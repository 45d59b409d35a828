package perfbench

import java.util.UUID

import scala.collection.mutable

import graft.core.{GraphIO, GraphState, Seed, Transactions}
import graft.model.{EdgeRow, Keys, NodeRow, NodeTypes}
import graft.sources.Ingest
import org.apache.spark.sql.SparkSession

/** A seeded data-coding session, the reference system's own use: sources
  * arrive as BibTeX, sites and tree-ring records are coded against them,
  * sources move through screening, mistakes are deleted with their edges,
  * and the coder reads the graph back. Each pass is one round of twelve
  * ops; the round's six writes and five reads are followed, at its
  * `persist` op, by `GraphIO.save` to a fresh directory and
  * `GraphIO.load` from it, the way the reference persists every change.
  *
  * Every answer is checked against `model`, a plain in-memory copy of the
  * node and edge sets kept with the reference's list semantics.
  */
final class CodingSession(spark: SparkSession, tracer: Tracer, runDir: String, seed: Long)
    extends Workload {
  import spark.implicits._

  private val rnd = new scala.util.Random(seed)
  private val nodes = mutable.LinkedHashMap.empty[String, NodeRow]
  private val edges = mutable.LinkedHashSet.empty[EdgeRow]
  private var g: GraphState = _
  private var version = 0
  private var serial = 0

  import CodingSession.Site
  private val sources = mutable.ArrayBuffer.empty[String]
  private val screening = mutable.Map.empty[String, String]
  private val sites = mutable.ArrayBuffer.empty[Site]
  private val removed = mutable.ArrayBuffer.empty[String]

  private val Method = Keys.key(NodeTypes.InferenceMethodNode, "implicit")
  private val Genera = Seq("Salix", "Betula", "Pinus", "Picea", "Alnus", "Quercus")
  private val Proxies = Seq("Salix-type", "Betula-type", "Pinus-type")
  private val Journals = Seq("Quaternary Science Reviews", "The Holocene", "Journal of Biogeography")

  private def storeDir(v: Int) = s"$runDir/store/v$v"

  private def uuid(): UUID = new UUID(seed, { serial += 1; serial.toLong })

  // ------------------------------------------------------------- the model

  private def modelCommit(b: Transactions.TxBatch): Unit = {
    b.nodes.foreach(n => nodes(n.key) = n)
    edges ++= b.edges
  }

  private def modelRemove(keys: Seq[String]): Unit = {
    val ks = keys.toSet
    ks.foreach(nodes.remove)
    edges.filterInPlace(e => !ks(e.src) && !ks(e.dst))
  }

  private def mismatch[A](what: String, got: Seq[A], want: Seq[A])(implicit o: Ordering[A]): Option[String] = {
    val (gs, ws) = (got.sorted, want.sorted)
    if (gs == ws) None
    else Some(s"$what: engine has ${gs.size} rows, model ${ws.size}; " +
      s"first difference ${gs.diff(ws).headOption.orElse(ws.diff(gs).headOption)}")
  }

  private implicit val nodeOrd: Ordering[NodeRow] = Ordering.by(n => (n.key, n.nodeType, n.prettyName, n.payload))
  private implicit val edgeOrd: Ordering[EdgeRow] = Ordering.by(e => (e.src, e.dst, e.weight, e.relType, e.relPayload))

  private def checkStore(loaded: GraphState): Option[String] =
    mismatch("nodes", loaded.nodes.collect().toSeq, nodes.values.toSeq)
      .orElse(mismatch("edges", loaded.edges.collect().toSeq, edges.toSeq))

  // ----------------------------------------------------------------- steps

  private def commit(ctx: OpCtx, build: => Either[String, Transactions.TxBatch]): Transactions.TxBatch = {
    val b0 = System.nanoTime()
    val batch = ctx.tracer.span("model.batch_build")(build).fold(e => throw new IllegalStateException(e), identity)
    val b1 = System.nanoTime()
    g = ctx.tracer.span("core.commit")(Transactions.commit(g, batch))
      .fold(e => throw new IllegalStateException(e), identity)
    ctx.buildS = (b1 - b0) / 1e9
    ctx.execS = (System.nanoTime() - b1) / 1e9
    modelCommit(batch)
    batch
  }

  private def ingest = Step("ingest", "commit", ctx => {
    val recs = (1 to 2).map { _ =>
      serial += 1
      val author = Seq("Birks", "Huntley", "Bennett", "Tinner", "Giesecke")(rnd.nextInt(5))
      // a source key keeps only each title word's first character, so the
      // serial is spelled one digit per word to keep keys distinct
      val title = s"Record ${serial.toString.mkString(" ")} Holocene vegetation history"
      (s"ref$serial", author, title, Journals(rnd.nextInt(Journals.size)), 1970 + rnd.nextInt(55))
    }
    val bib = recs.map { case (cite, author, title, journal, year) =>
      s"@article{$cite,\nauthor = {$author},\ntitle = {$title},\njournal = {$journal},\n" +
        s"year = {$year},\nvolume = {${rnd.nextInt(40) + 1}},\nnumber = {${rnd.nextInt(6) + 1}},\n" +
        s"pages = {${rnd.nextInt(100) + 1}--${rnd.nextInt(100) + 101}},\nmonth = {jan}\n}\n"
    }.mkString("\n")
    val parsed = ctx.tracer.span("sources.ingest")(Ingest.parseBibtex(spark, bib).collect().toSeq)
    val batch = commit(ctx, Right(Transactions.TxBatch(parsed.map { r =>
      val author = r.getAs[String]("author")
      val year = r.getAs[Int]("year")
      NodeRow(Keys.publicationKey(author, r.getAs[String]("title"), year), NodeTypes.SourceNode,
        s"$author ($year)", s"""{"Screening":"Unscreened","Citekey":"${r.getAs[String]("citekey")}"}""")
    }, Nil)))
    batch.nodes.foreach { n => sources += n.key; screening(n.key) = "Unscreened" }
    () => mismatch("parsed BibTeX", parsed.map(r => (r.getAs[String]("citekey"), r.getAs[String]("author"),
      r.getAs[String]("title"), r.getAs[String]("journal"), r.getAs[Int]("year"))), recs)
  })

  private def source(): String = sources(rnd.nextInt(sources.size))

  private def site = Step("site", "commit", ctx => {
    val src = source()
    val earliest = 500 + rnd.nextInt(11000)
    val batch = commit(ctx, Transactions.simpleSite(src, s"Lake ${serial + 1}",
      -60 + rnd.nextInt(12000) / 100.0, -170 + rnd.nextInt(34000) / 100.0, "LakeSediment",
      ("BP", earliest.toDouble), ("BP", rnd.nextInt(earliest).toDouble),
      Some(10.0 + rnd.nextInt(200)), uuid(), uuid()))
    sites += Site(src, batch.nodes.map(_.key))
    () => None
  })

  private def treeRing = Step("treering", "commit", ctx => {
    val src = source()
    val batch = commit(ctx, Transactions.treeRing(src, s"Forest ${serial + 1}",
      40 + rnd.nextInt(3000) / 100.0, -120 + rnd.nextInt(24000) / 100.0, 1900 + rnd.nextInt(120),
      Keys.taxonKey("genus", Genera(rnd.nextInt(Genera.size))),
      Keys.morphotypeKey("pollen", Proxies(rnd.nextInt(Proxies.size))), uuid(), uuid(), uuid()))
    sites += Site(src, batch.nodes.map(_.key))
    () => None
  })

  // Unscreened → Included → InProgress ⇄ Stalled: every step is legal
  private val nextStatus = Map("Unscreened" -> "Included", "Included" -> "InProgress",
    "InProgress" -> "Stalled", "Stalled" -> "InProgress")

  private def screen = Step("screen", "write", ctx => {
    val src = source()
    val status = Transactions.screen(screening(src), nextStatus(screening(src)))
      .fold(e => throw new IllegalStateException(e), identity)
    val old = nodes(src)
    val row = old.copy(payload = old.payload.replaceFirst("\"Screening\":\"[A-Za-z]+\"", s""""Screening":"$status""""))
    g = ctx.tracer.span("core.replace")(g.replaceNodes(Seq(row).toDS()))
    nodes(src) = row
    screening(src) = status
    () => None
  })

  private def delete = Step("delete", "write", ctx => {
    val victim = sites.remove(rnd.nextInt(sites.size))
    g = ctx.tracer.span("core.delete")(g.removeNodes(victim.keys.toDS()))
    modelRemove(victim.keys)
    removed ++= victim.keys
    () => None
  })

  private def lookup(gone: Boolean) = Step("lookup", "read", ctx => {
    val key =
      if (gone) removed(rnd.nextInt(removed.size))
      else { val s = sites(rnd.nextInt(sites.size)); s.keys(rnd.nextInt(s.keys.size)) }
    val got = ctx.tracer.span("core.lookup")(g.nodeByKey(key).collect().toSeq)
    () => mismatch(s"lookup $key", got, nodes.get(key).toSeq)
  })

  private def hop = Step("hop", "read", ctx => {
    val src = source()
    val got = ctx.tracer.span("core.hop")(
      g.hop("HasTemporalExtent", Some(src)).select("to").as[String].collect().toSeq)
    () => mismatch(s"hop from $src", got, edges.toSeq
      .filter(e => e.src == src && e.relType == "HasTemporalExtent" && nodes.contains(e.dst)).map(_.dst))
  })

  private def traverse = Step("traverse", "read", ctx => {
    val got = ctx.tracer.span("core.hop")(
      g.twoHop("HasTemporalExtent", "IsLocatedAt").as[(String, String, String)].collect().toSeq)
    () => {
      val located = edges.toSeq.filter(_.relType == "IsLocatedAt").groupBy(_.src)
      val want = edges.toSeq.filter(_.relType == "HasTemporalExtent")
        .flatMap(e1 => located.getOrElse(e1.dst, Nil).map(e2 => (e1.src, e1.dst, e2.dst)))
      mismatch("two-hop source→timeline→context", got, want)
    }
  })

  private def counts = Step("counts", "read", ctx => {
    val got = ctx.tracer.span("core.index")(
      g.nodeCountsByType().as[(String, Long)].collect().toSeq)
    () => mismatch("node counts by type", got,
      nodes.values.groupBy(_.nodeType).map { case (t, ns) => (t, ns.size.toLong) }.toSeq)
  })

  private def planNodes(gs: GraphState): Int =
    gs.nodes.queryExecution.logical.collect { case p => p }.size +
      gs.edges.queryExecution.logical.collect { case p => p }.size

  private def dirBytes(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  private def deleteDir(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_))
      finally s.close()
    }
  }

  /** Save to a fresh version directory and continue from what was saved. */
  private def persist(tracer: Tracer): GraphState = {
    val dir = storeDir(version + 1)
    tracer.span("core.persist")(GraphIO.save(g, dir))
    val loaded = tracer.span("core.load")(GraphIO.load(spark, dir))
    version += 1
    loaded
  }

  private def persistStep = Step("persist", "persist", ctx => {
    ctx.extra("plan_nodes") = planNodes(g)
    g = persist(ctx.tracer)
    val loaded = g
    () => {
      deleteDir(storeDir(version - 1))
      ctx.extra("bytes_written") = dirBytes(storeDir(version))
      checkStore(loaded)
    }
  })

  // ---------------------------------------------------------------- driver

  def setup(): Unit = {
    val fixtures = Transactions.TxBatch(
      NodeRow(Method, NodeTypes.InferenceMethodNode, "Implicit", "{}") +:
        (Genera.map(n => NodeRow(Keys.taxonKey("genus", n), NodeTypes.TaxonNode, n, s"""{"Genus":"$n"}""")) ++
          Proxies.map(p => NodeRow(Keys.morphotypeKey("pollen", p), NodeTypes.BioticProxyNode,
            s"$p pollen", s"""{"Morphotype":"$p"}"""))), Nil)
    val seeded = Seed.seedGraph(spark)
    g = Transactions.commit(seeded, fixtures).fold(e => throw new IllegalStateException(e), identity)
    seeded.nodes.collect().foreach(n => nodes(n.key) = n)
    edges ++= seeded.edges.collect()
    modelCommit(fixtures)
    g = persist(tracer)
    tracer.phase("check")(checkStore(g)).foreach(e => throw new IllegalStateException(s"initial save: $e"))
    start = Seq("nodes_start" -> nodes.size, "edges_start" -> edges.size,
      "store_bytes_start" -> dirBytes(storeDir(version)))
  }

  private var start = Seq.empty[(String, Any)]

  /** Two rounds, each in a coder's order: ingest and code sources, screen
    * one, delete a mistake, read the graph back, persist. The order is the
    * same every round, so each op meets the same lineage depth; the seed
    * decides the content (records, coordinates, which source, site or key).
    * A pass is two rounds because the warm pass needs two (the first timed
    * round after a single warm round ran about 20% slower than the rounds
    * after it), and a timed pass of two rounds gives enough samples for a
    * tail percentile.
    */
  def pass(p: Int): Seq[Step] = {
    def round = Seq(ingest, site, site, treeRing, screen, delete,
      lookup(gone = false), lookup(gone = true), hop, traverse, counts, persistStep)
    round ++ round
  }

  /** Sizes of the final store. Every round ends with `persist`, whose check
    * already compared the store with the model.
    */
  def finish(): Json.Obj = {
    val userBytes = nodes.values.map(n => Seq(n.key, n.nodeType, n.prettyName, n.payload)
        .map(_.getBytes("UTF-8").length.toLong).sum).sum +
      edges.toSeq.map(e => Seq(e.src, e.dst, e.relType, e.relPayload)
        .map(_.getBytes("UTF-8").length.toLong).sum + 4L).sum
    val storeBytes = dirBytes(storeDir(version))
    Json.Obj(start ++ Seq("nodes_final" -> nodes.size, "edges_final" -> edges.size,
      "store_bytes" -> storeBytes, "user_bytes" -> userBytes,
      "store_bytes_per_user_byte" -> storeBytes.toDouble / userBytes): _*)
  }
}

object CodingSession {
  private final case class Site(source: String, keys: Seq[String])
}
