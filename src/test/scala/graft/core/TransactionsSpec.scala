package graft.core

import java.util.UUID
import graft.SparkSpec
import graft.model._

class TransactionsSpec extends SparkSpec {
  import spark.implicits._

  private val u1 = UUID.fromString("00000000-0000-0000-0000-000000000001")
  private val u2 = UUID.fromString("00000000-0000-0000-0000-000000000002")
  private val u3 = UUID.fromString("00000000-0000-0000-0000-000000000003")

  private def baseGraph: GraphState = {
    val seeded = Seed.seedGraph(spark)
    val extra = Seq(
      NodeRow("sourcenode_pub_smith_tet_1987", NodeTypes.SourceNode, "Smith 1987", "{}"),
      NodeRow(Keys.morphotypeKey("pollen", "Salix-type"), NodeTypes.BioticProxyNode, "Salix-type pollen", "{}"),
      NodeRow(Keys.key(NodeTypes.InferenceMethodNode, "implicit"), NodeTypes.InferenceMethodNode, "Implicit", "{}"),
      NodeRow(Keys.taxonKey("genus", "Salix"), NodeTypes.TaxonNode, "Salix", "{}")
    ).toDS()
    seeded.addNodesOrSkip(extra)
  }

  test("M9 hyperedge transaction rejects duplicate taxa (ref Storage.fs:425-427)") {
    val dup = Transactions.proxiedTaxon("tl", "proxy", "method",
      Seq("taxonnode_genus_salix", "taxonnode_genus_salix"), "outcome", u1)
    assert(dup.isLeft)
    assert(Transactions.proxiedTaxon("tl", "p", "m", Nil, "o", u1).isLeft)
  }

  test("M11 simpleSite wires extent, uncertainty, and location edges (ref Scenarios.fs:133-224)") {
    val batch = Transactions.simpleSite(
      "sourcenode_pub_smith_tet_1987", "Lake A", 68.2, 18.5, "LakeSediment",
      earliest = ("BP", 9000.0), latest = ("AD", 1950.0),
      earliestError = Some(100.0), timelineUuid = u1, contextUuid = u2).toOption.get
    assert(batch.nodes.map(_.nodeType).sorted ==
      Seq(NodeTypes.ContextNode, NodeTypes.IndividualTimelineNode))
    val rels = batch.edges.groupBy(_.relType).view.mapValues(_.map(_.dst).toSet).toMap
    assert(rels("ExtentEarliestSpecified") == Set("calyearnode_9000ybp"))
    assert(rels("ExtentLatestSpecified") == Set("calyearnode_0ybp"))
    // both uncertainty bounds under ExtentEarliestUncertainty (ref Scenarios.fs:169-177)
    assert(rels("ExtentEarliestUncertainty") == Set("calyearnode_9100ybp", "calyearnode_8900ybp"))
    assert(rels.contains("IsLocatedAt") && rels.contains("HasTemporalExtent"))

    // commits cleanly against a seeded graph (year nodes must exist)
    val g2 = Transactions.commit(baseGraph, batch)
    assert(g2.isRight)
    assert(g2.toOption.get.edges.count() == 2 + batch.edges.length)
  }

  test("M11 J9 routing: pre-Holocene earliest date becomes OutOfScope and COMMITS (label node seeded)") {
    val batch = Transactions.simpleSite(
      "sourcenode_pub_smith_tet_1987", "Old Site", 60, 20, "PeatCore",
      earliest = ("BP", 13000.0), latest = ("BP", 9000.0),
      earliestError = None, timelineUuid = u1, contextUuid = u2).toOption.get
    val e = batch.edges.find(_.relType == "ExtentEarliestOutOfScope").get
    assert(e.dst == Time.PreHoloceneKey)
    // end-to-end: the out-of-scope label exists in the seed, so the
    // routed edge passes FK validation
    val committed = Transactions.commit(baseGraph, batch)
    assert(committed.isRight, committed.left.toOption.mkString)
  }

  test("M11 validation: inverted extents, bad coordinates, and post-index dates rejected") {
    assert(Transactions.simpleSite("s", "X", 0, 0, "O",
      ("BP", 1000.0), ("BP", 2000.0), None, u1, u2).isLeft) // latest older than earliest
    assert(Transactions.simpleSite("s", "X", 91, 0, "O",
      ("BP", 2000.0), ("BP", 1000.0), None, u1, u2).isLeft)
    // newer than the index floor (−72 BP): no year node exists → validation Left
    assert(Transactions.simpleSite("s", "X", 0, 0, "O",
      ("BP", 2000.0), ("AD", 2100.0), None, u1, u2).isLeft)
  }

  test("site names with quotes/backslashes produce valid JSON payloads") {
    val batch = Transactions.simpleSite(
      "src", """Lake "Deep\End"""", 60, 20, "PeatCore",
      ("BP", 9000.0), ("BP", 1000.0), None, u1, u2).toOption.get
    val payload = batch.nodes.find(_.nodeType == NodeTypes.ContextNode).get.payload
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper().readTree(payload)
    assert(parsed.get("Name").asText() == """Lake "Deep\End"""")
  }

  test("M12 treeRing builds timeline + implicit-inference hyperedge to presence (ref Scenarios.fs:226-311)") {
    val batch = Transactions.treeRing("sourcenode_pub_smith_tet_1987", "Forest B",
      65.0, 22.0, collectionYearAD = 2000,
      taxonKey = Keys.taxonKey("genus", "Salix"),
      proxyKey = Keys.morphotypeKey("pollen", "Salix-type"),
      timelineUuid = u1, contextUuid = u2, hyperUuid = u3).toOption.get
    val types = batch.edges.groupBy(_.relType).view.mapValues(_.size).toMap
    assert(types("InferredAs") == 1 && types("MeasuredBy") == 1 && types("HasProxyInfo") == 1)
    assert(batch.edges.find(_.relType == "MeasuredBy").get.dst == Keys.outcomeKey("presence"))
    assert(Transactions.commit(baseGraph, batch).isRight)
  }

  test("M13 screening state machine enforces legal transitions (ref Sources.fs:181-202)") {
    assert(Transactions.screen("Unscreened", "Included") == Right("Included"))
    assert(Transactions.screen("Included", "InProgress").isRight)
    assert(Transactions.screen("Stalled", "InProgress").isRight)
    assert(Transactions.screen("Excluded", "Included").isLeft)
    assert(Transactions.screen("Unscreened", "CompletedAll").isLeft)
  }

  test("A6 classifyTaxa partitions proposed names into linked/unlinked/error") {
    import org.apache.spark.sql.functions.col
    val g = baseGraph
    val proposed = Seq("Salix", "Nonexistus maximus", "", "LIFE").toDF("name")
    val out = Transactions.classifyTaxa(g, proposed)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("Salix") == "linked")      // matches prettyName "Salix"
    assert(out("LIFE") == "linked")       // case-insensitive latin match
    assert(out("Nonexistus maximus") == "unlinked")
    assert(out("") == "error")
    val key = Transactions.classifyTaxa(g, Seq("Salix").toDF("name"))
      .select(col("taxon_key")).head().getString(0)
    assert(key == Keys.taxonKey("genus", "Salix"))
  }

  test("commit is atomic-per-step: dangling edge endpoint aborts (M6 FK check)") {
    val bad = Transactions.TxBatch(
      Seq(NodeRow("contextnode_x", NodeTypes.ContextNode, "X", "{}")),
      Seq(EdgeRow("contextnode_x", "missing_node", 1, "IsLocatedAt", "{}")))
    assert(Transactions.commit(baseGraph, bad).isLeft)
  }

  // ---- commit ≡ addNodes → addRelations (the Dataset reference path)

  private val eqNodes = Seq(
    NodeRow("sourcenode_a", NodeTypes.SourceNode, "A", "{}"),
    NodeRow("contextnode_a", NodeTypes.ContextNode, "Site A", "{}"),
    NodeRow("taxonnode_genus_salix", NodeTypes.TaxonNode, "Salix", "{}"))
  private val eqEdges = Seq(
    EdgeRow("sourcenode_a", "contextnode_a", 1, "HasSite", "{}"),
    EdgeRow("contextnode_a", "taxonnode_genus_salix", 1, "HasTaxon", null))

  private def referenceCommit(g: GraphState, b: Transactions.TxBatch): Either[String, GraphState] =
    for {
      g1 <- g.addNodes(b.nodes.toDS()).left.map(d => s"duplicate keys: ${d.mkString(",")}")
      g2 <- g1.addRelations(b.edges.toDS()).left.map(d => s"dangling endpoints: ${d.mkString(",")}")
    } yield g2

  private def outcome(r: Either[String, GraphState]): Either[String, (Seq[NodeRow], Seq[EdgeRow])] =
    r.left.map(_.takeWhile(_ != ':')).map(g => (
      g.nodes.collect().toSeq.sortBy(n => (n.key, n.nodeType, n.prettyName, n.payload)),
      g.edges.collect().toSeq.sortBy(e => (e.src, e.dst, e.weight, e.relType, String.valueOf(e.relPayload)))))

  test("commit agrees with addNodes → addRelations on every batch shape, in memory and loaded") {
    val site = NodeRow("contextnode_b", NodeTypes.ContextNode, "Site B", "{}")
    val cases = Seq(
      "clean batch" -> Transactions.TxBatch(Seq(site),
        Seq(EdgeRow("sourcenode_a", "taxonnode_genus_salix", 1, "Cites", "{}"))),
      "key already in the store" -> Transactions.TxBatch(
        Seq(NodeRow("contextnode_a", NodeTypes.ContextNode, "Other", "{}")), Nil),
      "duplicate key inside the batch" -> Transactions.TxBatch(Seq(site, site.copy(prettyName = "B2")), Nil),
      "dangling src" -> Transactions.TxBatch(Nil,
        Seq(EdgeRow("missing_node", "contextnode_a", 1, "HasSite", "{}"))),
      "dangling dst" -> Transactions.TxBatch(Nil,
        Seq(EdgeRow("sourcenode_a", "missing_node", 1, "HasSite", "{}"))),
      "endpoint created in the same batch" -> Transactions.TxBatch(Seq(site),
        Seq(EdgeRow("sourcenode_a", "contextnode_b", 1, "HasSite", "{}"),
          EdgeRow("contextnode_b", "taxonnode_genus_salix", 1, "HasTaxon", "{}"))),
      "re-commit of an edge already in the store" -> Transactions.TxBatch(Nil,
        Seq(eqEdges.head, EdgeRow("sourcenode_a", "taxonnode_genus_salix", 1, "Cites", "{}"))),
      "the same edge twice in one batch" -> Transactions.TxBatch(Nil,
        Seq.fill(2)(EdgeRow("sourcenode_a", "taxonnode_genus_salix", 1, "Cites", "{}"))),
      "re-commit of an edge whose relPayload is null" -> Transactions.TxBatch(Nil, Seq(eqEdges(1))),
      "empty batch" -> Transactions.TxBatch(Nil, Nil))
    val dir = java.nio.file.Files.createTempDirectory("graft-commit-eq").toString
    val inMemory = GraphState(eqNodes.toDS(), eqEdges.toDS())
    GraphIO.save(inMemory, dir)
    for ((base, baseName) <- Seq(inMemory -> "in memory", GraphIO.load(spark, dir) -> "loaded");
         (name, batch) <- cases) {
      val got = outcome(Transactions.commit(base, batch))
      val want = outcome(referenceCommit(base, batch))
      assert(got == want, s"$name ($baseName)")
    }
    // the table exercises both Lefts and the dedup paths, not only Rights
    val loaded = GraphIO.load(spark, dir)
    assert(outcome(Transactions.commit(loaded, cases(1)._2)) == Left("duplicate keys"))
    assert(outcome(Transactions.commit(loaded, cases(4)._2)) == Left("dangling endpoints"))
    assert(outcome(Transactions.commit(loaded, cases(8)._2)).map(_._2.size) == Right(eqEdges.size))
  }

  test("commit runs ONE SQL action and leaves unions only in the graph's lineage") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    // a session of its own, so actions of suites sharing the JVM go uncounted
    val session = spark.newSession()
    import session.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-commit-pin").toString
    GraphIO.save(GraphState(eqNodes.toDS(), eqEdges.toDS()), dir)
    var g = GraphIO.load(session, dir)

    val actions = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = actions.incrementAndGet()
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = actions.incrementAndGet()
    }
    session.listenerManager.register(listener)
    val batches = (1 to 3).map { i =>
      val ctx = s"contextnode_pin$i"
      Transactions.TxBatch(Seq(NodeRow(ctx, NodeTypes.ContextNode, s"Pin $i", "{}")),
        Seq(EdgeRow("sourcenode_a", ctx, 1, "HasSite", "{}"), eqEdges(1)))
    }
    try {
      for (b <- batches) {
        org.apache.spark.ListenerBusDrain.drain(session.sparkContext)
        actions.set(0)
        g = Transactions.commit(g, b).fold(e => fail(e), identity)
        org.apache.spark.ListenerBusDrain.drain(session.sparkContext)
        assert(actions.get() == 1, s"SQL actions for one commit of ${b.nodes.head.key}")
      }
    } finally session.listenerManager.unregister(listener)

    for (ds <- Seq(g.nodes.toDF(), g.edges.toDF())) {
      val aggregates = ds.queryExecution.optimizedPlan.collect {
        case a: Aggregate => a.nodeName
        case d: Deduplicate => d.nodeName
      }
      assert(aggregates.isEmpty, ds.queryExecution.optimizedPlan.treeString)
    }
    assert(g.nodes.count() == eqNodes.size + 3)
    assert(g.edges.count() == eqEdges.size + 3)
  }

  test("M13 CompleteSection fold matches the reference case list (ref Library.fs:715-753)") {
    import Transactions._
    val Seq(s1, s2, s3) = CodingSections
    // CompletedAll absorbs
    assert(completeSection(CompletedAll, s1) == CompletedAll)
    // CompletedNone starts an InProgress list with just the section
    assert(completeSection(CompletedNone, s2) == InProgress(List(s2)))
    // last missing section completes everything
    assert(completeSection(InProgress(List(s1, s2)), s3) == CompletedAll)
    // duplicates collapse, first-occurrence order preserved
    assert(completeSection(InProgress(List(s2)), s2) == InProgress(List(s2)))
    assert(completeSection(InProgress(List(s1)), s2) == InProgress(List(s2, s1)))
    // completing the stalled section un-stalls
    assert(completeSection(Stalled(List(s1), s2, "why"), s2) == InProgress(List(s2, s1)))
    assert(completeSection(Stalled(List(s1, s3), s2, "why"), s2) == CompletedAll)
    // completing any other section accumulates but stays stalled
    assert(completeSection(Stalled(List(s1), s2, "why"), s3) == Stalled(List(s3, s1), s2, "why"))
  }

  test("M13 SubmitCodingProblem rejects completed sources and sections (ref Library.fs:755-785)") {
    import Transactions._
    val Seq(s1, s2, _) = CodingSections
    assert(flagProblem(CompletedAll, s1, "r").isLeft)
    assert(flagProblem(CompletedNone, s1, "r") == Right(Stalled(Nil, s1, "r")))
    assert(flagProblem(InProgress(List(s1)), s1, "r").isLeft)
    assert(flagProblem(InProgress(List(s1)), s2, "r") == Right(Stalled(List(s1), s2, "r")))
    assert(flagProblem(Stalled(List(s1), s2, "old"), s1, "r").isLeft)
    assert(flagProblem(Stalled(List(s1), s2, "old"), s2, "new") == Right(Stalled(List(s1), s2, "new")))
  }

  test("M13 column fold agrees with the ADT fold on every state/section combination") {
    import Transactions._
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val Seq(s1, s2, s3) = CodingSections
    val states: Seq[CodingProgress] = Seq(
      CompletedNone, CompletedAll,
      InProgress(List(s1)), InProgress(List(s2, s3)), InProgress(List(s3, s1)),
      Stalled(Nil, s1, "r"), Stalled(List(s2), s1, "r"), Stalled(List(s1, s3), s2, "r"))
    val cases = for (st <- states; sec <- CodingSections) yield (st, sec)
    val rows = cases.map { case (st, sec) =>
      val (tag, completed, stSec, stReason) = st match {
        case CompletedNone => ("CompletedNone", Nil, null, null)
        case CompletedAll => ("CompletedAll", Nil, null, null)
        case InProgress(c) => ("InProgress", c, null, null)
        case Stalled(c, s, r) => ("Stalled", c, s, r)
      }
      (tag, completed, stSec, stReason, sec)
    }
    val df = rows.toDF("progress", "completed", "stalledSection", "stalledReason", "section")
      .withColumn("res", Transactions.completeSectionCol(
        col("progress"), col("completed"), col("stalledSection"), col("stalledReason"), col("section")))
    val got = df.select(col("res.progress"), col("res.completedSections"),
      col("res.stalledSection"), col("res.stalledReason")).collect()
    cases.zip(got).foreach { case ((st, sec), row) =>
      val expected = completeSection(st, sec)
      val (eTag, eCompleted, eStalled) = expected match {
        case CompletedNone => ("CompletedNone", Nil, null)
        case CompletedAll => ("CompletedAll", Nil, null)
        case InProgress(c) => ("InProgress", c, null)
        case Stalled(c, s, _) => ("Stalled", c, s)
      }
      assert(row.getString(0) == eTag, s"state tag for $st + $sec")
      // the column form carries the completed list through CompletedAll
      // transitions (the ADT drops it — CompletedAll is terminal), so
      // only compare lists for non-terminal results
      if (eTag != "CompletedAll")
        assert(row.getSeq[String](1).toList == eCompleted, s"completed for $st + $sec")
      assert(row.getString(2) == eStalled, s"stalled section for $st + $sec")
    }
  }
}
