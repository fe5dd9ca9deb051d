package graft.meta

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The REST write path BEYOND appends ([[IcebergRestServe.buildCommitShape]]
  * + [[IcebergRestCommit]]): row-delta commits (pos-deletes on v2, DVs on
  * v3, equality deletes) and replace-shaped commits (a foreign compactor's
  * RewriteFiles) — round-tripped through real sockets, with graft MOR
  * reads as the ground truth, plus the refusal matrix. */
class IcebergRestWriteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val http = HttpClient.newHttpClient()

  private def freshCatalog() =
    LocalCatalog(Files.createTempDirectory("rest-wr-wh").toString)

  private def writeParquet(df: org.apache.spark.sql.DataFrame, dir: String,
      name: String): (String, Long, Long) = {
    val (p, sz, n, _) = graft.testkit.FileGenerator.writeSingleParquet(
      spark, df, java.nio.file.Paths.get(dir, name))
    (p, sz, n)
  }

  private def dataPaths(cat: Catalog, t: String): Seq[String] =
    cat.loadTable(t).currentSnapshot.get.manifest
      .filter(_.content == FileContent.Data).map(_.path)

  test("v2 row-delta over REST: pos-delete + equality-delete apply on graft MOR reads") {
    val cat = freshCatalog()
    IceWrite.create(spark, cat, "t",
      (1L to 20L).map(i => (i, s"n$i")).toDF("id", "name"))
    IceWrite.append(spark, cat, "t",
      (21L to 40L).map(i => (i, s"n$i")).toDF("id", "name"))
    val schema = cat.loadTable("t").schema
    val srv = new IcebergRestServe(cat, namespace = "wh", prefix = "p")
    try {
      val staging = Files.createTempDirectory("rest-wr-d1").toString
      val f1 = dataPaths(cat, "t").head

      // ---- a foreign DELETE: positions 0 and 1 of the first data file
      val (pd, pdSz, pdN) = writeParquet(IceWrite.withPosDeleteFieldIds(
        Seq((f1, 0L), (f1, 1L)).toDF("file_path", "pos")), staging, "pd.parquet")
      val s1 = IcebergRestCommit.commitDelta(srv.uri, Seq("wh"), "t",
        Nil, Seq(IcebergRestCommit.AddedDeleteFile(pd, pdSz, pdN, "position")),
        staging)
      val after1 = cat.loadTable("t")
      assert(after1.currentSnapshotId.contains(s1))
      assert(after1.currentSnapshot.get.summary("operation") == "overwrite")
      assert(IceRead.table(spark, cat, "t").count() == 38L,
        "the foreign pos-delete must mask exactly two rows")

      // ---- a foreign MERGE leg: equality-delete on id (field id 1) plus
      // replacement rows in the same delta
      val (eq, eqSz, eqN) = writeParquet(IceWrite.withFieldIds(
        Seq(Tuple1(30L), Tuple1(31L)).toDF("id"), schema), staging, "eq.parquet")
      val (nd, ndSz, ndN) = writeParquet(IceWrite.withFieldIds(
        Seq((30L, "updated30"), (31L, "updated31")).toDF("id", "name"), schema),
        staging, "upd.parquet")
      IcebergRestCommit.commitDelta(srv.uri, Seq("wh"), "t",
        Seq(IcebergRestCommit.AddedFile(nd, ndSz, ndN)),
        Seq(IcebergRestCommit.AddedDeleteFile(eq, eqSz, eqN, "equality",
          equalityFieldIds = Seq(1))), staging)
      val got = IceRead.table(spark, cat, "t")
      assert(got.count() == 38L, "merge: 2 deleted by equality, 2 re-added")
      // the delta's own data files are NOT subject to its equality
      // deletes (same sequence, strict <) — the updated rows survive
      assert(got.filter(col("name").startsWith("updated")).count() == 2L)
      assert(got.filter(col("id") === 30L).head.getString(1) == "updated30")

      // ---- refusal: eq-delete without key ids answers 400 (raw wire —
      // the client constructor refuses even earlier)
      val e = intercept[IllegalArgumentException](
        IcebergRestCommit.AddedDeleteFile(eq, eqSz, eqN, "equality"))
      assert(e.getMessage.contains("equalityFieldIds"), e.getMessage)
      // ---- refusal: a DV against a v2 table
      val dvErr = intercept[RuntimeException] {
        val bm = Puffin.PositionBitmap.of(Seq(0L))
        val payload = Puffin.encodeDvBlob(bm)
        val pf = MetaIO.join(staging, "v2dv.puffin")
        val metas = Puffin.write(pf, Seq(Puffin.Blob(
          Puffin.DvBlobType, payload, 1L, 1L)))
        IcebergRestCommit.commitDelta(srv.uri, Seq("wh"), "t", Nil,
          Seq(IcebergRestCommit.AddedDeleteFile(pf, MetaIO.size(pf), 1L, "dv",
            referencedDataFile = Some(f1),
            contentOffset = Some(metas.head.offset),
            contentSizeInBytes = Some(metas.head.length))), staging)
      }
      assert(dvErr.getMessage.contains("format-version 3"), dvErr.getMessage)
    } finally srv.stop()
  }

  test("v3 row-delta over REST: DV commit, monotonic DV replacement, one-DV-per-file") {
    val cat = freshCatalog()
    IceWrite.create(spark, cat, "t",
      (1L to 30L).map(i => (i, s"n$i")).toDF("id", "name"), formatVersion = 3)
    val srv = new IcebergRestServe(cat, namespace = "wh", prefix = "p")
    try {
      val staging = Files.createTempDirectory("rest-wr-dv").toString
      val f1 = dataPaths(cat, "t").head
      def dvFile(name: String, positions: Seq[Long]): IcebergRestCommit.AddedDeleteFile = {
        val payload = Puffin.encodeDvBlob(Puffin.PositionBitmap.of(positions))
        val pf = MetaIO.join(staging, name)
        val metas = Puffin.write(pf, Seq(Puffin.Blob(
          Puffin.DvBlobType, payload, 1L, 1L,
          properties = Map("referenced-data-file" -> f1,
            "cardinality" -> positions.size.toString))))
        IcebergRestCommit.AddedDeleteFile(pf, MetaIO.size(pf),
          positions.size.toLong, "dv", referencedDataFile = Some(f1),
          contentOffset = Some(metas.head.offset),
          contentSizeInBytes = Some(metas.head.length))
      }

      // ---- the foreign DELETE lands as a DV; graft's scan applies it
      val dv1 = dvFile("dv1.puffin", Seq(0L, 1L, 2L))
      IcebergRestCommit.commitDelta(srv.uri, Seq("wh"), "t", Nil, Seq(dv1), staging)
      assert(IceRead.table(spark, cat, "t").count() == 27L)
      assert(cat.loadTable("t").currentSnapshot.get.manifest
        .count(_.isDeletionVector) == 1)

      // ---- a SECOND DV for the same file without superseding: refused
      val dup = intercept[RuntimeException](
        IcebergRestCommit.commitDelta(srv.uri, Seq("wh"), "t", Nil,
          Seq(dvFile("dv-dup.puffin", Seq(0L, 1L, 2L, 3L))), staging))
      assert(dup.getMessage.contains("already has a deletion vector"), dup.getMessage)

      // ---- a SHRINKING replacement: refused (DVs grow monotonically)
      val shrink = intercept[RuntimeException](
        IcebergRestCommit.commitDelta(srv.uri, Seq("wh"), "t", Nil,
          Seq(dvFile("dv-shrink.puffin", Seq(0L, 5L))), staging,
          supersededDeletePaths = Seq(dv1.path)))
      assert(shrink.getMessage.contains("drops positions"), shrink.getMessage)
      assert(IceRead.table(spark, cat, "t").count() == 27L, "refused commits change nothing")

      // ---- a proper superset replacement: old DV out, new DV in
      IcebergRestCommit.commitDelta(srv.uri, Seq("wh"), "t", Nil,
        Seq(dvFile("dv2.puffin", Seq(0L, 1L, 2L, 5L))), staging,
        supersededDeletePaths = Seq(dv1.path))
      assert(IceRead.table(spark, cat, "t").count() == 26L)
      val dvs = cat.loadTable("t").currentSnapshot.get.manifest.filter(_.isDeletionVector)
      assert(dvs.size == 1 && dvs.head.path.endsWith("dv2.puffin"),
        s"exactly the replacement DV must survive: $dvs")

      // ---- pos-delete PARQUET on a v3 table: refused by spec rule
      val (pd, pdSz, pdN) = writeParquet(IceWrite.withPosDeleteFieldIds(
        Seq((f1, 9L)).toDF("file_path", "pos")), staging, "pd3.parquet")
      val pp = intercept[RuntimeException](
        IcebergRestCommit.commitDelta(srv.uri, Seq("wh"), "t", Nil,
          Seq(IcebergRestCommit.AddedDeleteFile(pd, pdSz, pdN, "position")), staging))
      assert(pp.getMessage.contains("deletion vectors"), pp.getMessage)

      // ---- v3 row lineage: REST-added data in a delta takes fresh
      // server-assigned ids (no collision with existing ranges)
      val schema = cat.loadTable("t").schema
      val (nd, ndSz, ndN) = writeParquet(IceWrite.withFieldIds(
        Seq((100L, "x")).toDF("id", "name"), schema), staging, "late.parquet")
      IcebergRestCommit.commitDelta(srv.uri, Seq("wh"), "t",
        Seq(IcebergRestCommit.AddedFile(nd, ndSz, ndN)), Nil, staging)
      val ids = IceRead.tableWithRowIds(spark, cat, "t")
        .select("_row_id").collect().map(_.getLong(0))
      assert(ids.length == 27 && ids.distinct.length == 27)

      // ---- regression pin: the v3 spec KEEPS equality deletes (only
      // pos-delete parquet is replaced by DVs) — a foreign eq-delete on
      // a v3 table must mask rows, not silently resurrect them (the MOR
      // read once skipped eq-deletes entirely on v3; fuzz-caught)
      val (eq, eqSz, eqN) = writeParquet(IceWrite.withFieldIds(
        Seq(Tuple1(10L), Tuple1(11L)).toDF("id"), schema), staging, "v3eq.parquet")
      IcebergRestCommit.commitDelta(srv.uri, Seq("wh"), "t", Nil,
        Seq(IcebergRestCommit.AddedDeleteFile(eq, eqSz, eqN, "equality",
          equalityFieldIds = Seq(1))), staging)
      val after = IceRead.table(spark, cat, "t")
      assert(after.count() == 25L, "v3 equality deletes must apply")
      assert(after.filter(col("id").isin(10L, 11L)).count() == 0L)
    } finally srv.stop()
  }

  test("replace over REST: a foreign compactor's RewriteFiles with the starting-seq rule") {
    val cat = freshCatalog()
    IceWrite.create(spark, cat, "t",
      (1L to 15L).map(i => (i, s"n$i")).toDF("id", "name"))
    IceWrite.append(spark, cat, "t", (16L to 30L).map(i => (i, s"n$i")).toDF("id", "name"))
    IceWrite.append(spark, cat, "t", (31L to 45L).map(i => (i, s"n$i")).toDF("id", "name"))
    // native MOR state: a pos-delete masking some rows
    IceWrite.deleteWhere(spark, cat, "t", col("id") % 5 === 0)
    val before = IceRead.table(spark, cat, "t").collect().toSet
    assert(before.size == 36)
    val head = cat.loadTable("t")
    val startingSeq = head.currentSnapshot.get.sequenceNumber
    val removed = head.currentSnapshot.get.manifest.map(_.path).distinct

    val srv = new IcebergRestServe(cat, namespace = "wh", prefix = "p")
    try {
      val staging = Files.createTempDirectory("rest-wr-rw").toString
      // the foreign compactor materializes the LIVE rows into one file
      val live = IceRead.table(spark, cat, "t")
      val (cp, cpSz, cpN) = writeParquet(
        IceWrite.withFieldIds(live, head.schema), staging, "compacted.parquet")
      assert(cpN == 36L)
      val snapId = IcebergRestCommit.replaceFiles(srv.uri, Seq("wh"), "t",
        removed, Seq(IcebergRestCommit.AddedFile(cp, cpSz, cpN)), staging)
      val after = cat.loadTable("t")
      assert(after.currentSnapshotId.contains(snapId))
      assert(after.currentSnapshot.get.summary("operation") == "replace")
      val manifest = after.currentSnapshot.get.manifest
      assert(manifest.size == 1 && manifest.head.path == cp,
        s"one compacted file must replace the MOR state: $manifest")
      // the starting-sequence-number rule: the rewritten file is pinned
      // to the sequence of the head it rewrote, NOT the commit's own
      assert(manifest.head.sequenceNumber == startingSeq,
        s"expected starting seq $startingSeq, got ${manifest.head.sequenceNumber}")
      assert(after.lastSequenceNumber == head.lastSequenceNumber + 1)
      val got = IceRead.table(spark, cat, "t").collect().toSet
      assert(got == before, "a replace must preserve exactly the live rows")

      // ...and BECAUSE of the rule, an equality delete committed after
      // still outranks the rewritten rows (seq strictly greater)
      val (eq, eqSz, eqN) = writeParquet(IceWrite.withFieldIds(
        Seq(Tuple1(7L)).toDF("id"), head.schema), staging, "eq.parquet")
      IcebergRestCommit.commitDelta(srv.uri, Seq("wh"), "t", Nil,
        Seq(IcebergRestCommit.AddedDeleteFile(eq, eqSz, eqN, "equality",
          equalityFieldIds = Seq(1))), staging)
      assert(IceRead.table(spark, cat, "t").count() == 35L,
        "the post-replace equality delete must apply to rewritten rows")

      // ---- pure removal (drop whole files) = operation "delete"
      val dataNow = dataPaths(cat, "t")
      IcebergRestCommit.replaceFiles(srv.uri, Seq("wh"), "t", dataNow, Nil, staging)
      assert(cat.loadTable("t").currentSnapshot.get.summary("operation") == "delete")
      assert(IceRead.table(spark, cat, "t").count() == 0L)

      // ---- removing a path that is not live fails fast client-side
      val miss = intercept[IllegalArgumentException](
        IcebergRestCommit.replaceFiles(srv.uri, Seq("wh"), "t",
          Seq("/nope/gone.parquet"), Nil, staging))
      assert(miss.getMessage.contains("not in the current snapshot"), miss.getMessage)
    } finally srv.stop()
  }

  test("replace on v3: dangling-DV refusal, lineage preserved via explicit first_row_id") {
    val cat = freshCatalog()
    IceWrite.create(spark, cat, "t",
      (1L to 20L).map(i => (i, s"n$i")).toDF("id", "name").repartition(1),
      formatVersion = 3)
    assert(dataPaths(cat, "t").size == 1, "single-file setup for the DV pairing")
    IceWrite.deleteWhereDv(spark, cat, "t", col("id") <= 3)
    assert(IceRead.table(spark, cat, "t").count() == 17L)
    val head = cat.loadTable("t")
    val dataFile = head.currentSnapshot.get.manifest
      .find(_.content == FileContent.Data).get
    val dvEntry = head.currentSnapshot.get.manifest.find(_.isDeletionVector).get

    val srv = new IcebergRestServe(cat, namespace = "wh", prefix = "p")
    try {
      val staging = Files.createTempDirectory("rest-wr-v3rw").toString
      val live = IceRead.table(spark, cat, "t")
      val (cp, cpSz, cpN) = writeParquet(
        IceWrite.withFieldIds(live, head.schema), staging, "c.parquet")

      // removing the data file but LEAVING its DV: refused
      val dangle = intercept[RuntimeException](
        IcebergRestCommit.replaceFiles(srv.uri, Seq("wh"), "t",
          Seq(dataFile.path), Seq(IcebergRestCommit.AddedFile(cp, cpSz, cpN)),
          staging))
      assert(dangle.getMessage.contains("deletion vector"), dangle.getMessage)

      // a rewrite CLAIMING a surviving file's row-id range: refused (the
      // ids belong to files staying live). Stage a fresh live file first
      // so there IS a surviving range to collide with.
      val (xf, xfSz, xfN) = writeParquet(IceWrite.withFieldIds(
        Seq((500L, "live")).toDF("id", "name"), head.schema), staging, "x.parquet")
      IcebergRestCommit.appendFiles(srv.uri, Seq("wh"), "t",
        Seq(IcebergRestCommit.AddedFile(xf, xfSz, xfN)), staging)
      val liveRange = cat.loadTable("t").currentSnapshot.get.manifest
        .find(_.path == xf).get.firstRowId.get
      val clash = intercept[RuntimeException](
        IcebergRestCommit.replaceFiles(srv.uri, Seq("wh"), "t",
          Seq(dataFile.path, dvEntry.path),
          Seq(IcebergRestCommit.AddedFile(cp, cpSz, cpN,
            firstRowId = Some(liveRange))), staging))
      assert(clash.getMessage.contains("overlapping"), clash.getMessage)

      // the correct rewrite removes both and PRESERVES the removed
      // file's range explicitly (what a lineage-preserving compactor
      // ships); the untouched live file keeps its own
      IcebergRestCommit.replaceFiles(srv.uri, Seq("wh"), "t",
        Seq(dataFile.path, dvEntry.path),
        Seq(IcebergRestCommit.AddedFile(cp, cpSz, cpN,
          firstRowId = dataFile.firstRowId)), staging)
      val after = cat.loadTable("t")
      val newEntry = after.currentSnapshot.get.manifest.find(_.path == cp).get
      assert(newEntry.firstRowId == dataFile.firstRowId,
        "explicitly shipped lineage must be honored")
      assert(IceRead.table(spark, cat, "t").count() == 18L)
      val ids = IceRead.tableWithRowIds(spark, cat, "t")
        .select("_row_id").collect().map(_.getLong(0))
      assert(ids.distinct.length == 18)
    } finally srv.stop()
  }

  test("mixed shape refused: a commit may not remove data files AND add delete files") {
    val cat = freshCatalog()
    IceWrite.create(spark, cat, "t", (1L to 10L).map(i => (i, s"n$i")).toDF("id", "name"))
    val f1 = dataPaths(cat, "t").head
    val srv = new IcebergRestServe(cat, namespace = "wh", prefix = "p")
    try {
      val staging = Files.createTempDirectory("rest-wr-mix").toString
      val (pd, pdSz, pdN) = writeParquet(IceWrite.withPosDeleteFieldIds(
        Seq((f1, 0L)).toDF("file_path", "pos")), staging, "pd.parquet")
      val e = intercept[RuntimeException](
        IcebergRestCommit.commitDelta(srv.uri, Seq("wh"), "t", Nil,
          Seq(IcebergRestCommit.AddedDeleteFile(pd, pdSz, pdN, "position")),
          staging, supersededDeletePaths = Seq(f1)))
      assert(e.getMessage.contains("may remove only deletion vectors"), e.getMessage)
      assert(IceRead.table(spark, cat, "t").count() == 10L)
    } finally srv.stop()
  }

  test("REST append to a branch builds on that branch's head, not main's") {
    val cat = freshCatalog()
    IceWrite.create(spark, cat, "t",
      (1L to 10L).map(i => (i, s"n$i")).toDF("id", "name").repartition(1),
      formatVersion = 3)
    IceWrite.createBranch(cat, "t", "dev")
    IceWrite.append(spark, cat, "t",
      (11L to 15L).map(i => (i, s"d$i")).toDF("id", "name").repartition(1),
      branch = "dev")
    val before = cat.loadTable("t")
    val devHead = before.snapshotForRef("dev").get
    val mainPaths = before.currentSnapshot.get.manifest.map(_.path).toSet
    val devOwn = devHead.manifest.filterNot(f => mainPaths.contains(f.path))
    assert(devOwn.size == 1 && devOwn.head.firstRowId.nonEmpty)

    val srv = new IcebergRestServe(cat, namespace = "wh", prefix = "p")
    try {
      val staging = Files.createTempDirectory("rest-wr-branch").toString
      val (np, nSz, nN) = writeParquet(IceWrite.withFieldIds(
        Seq((100L, "x")).toDF("id", "name"), before.schema), staging, "dev-add.parquet")
      val route = s"${srv.uri}/v1/p/namespaces/wh/tables/t"
      val loaded = org.json4s.jackson.JsonMethods.parse(http.send(
        HttpRequest.newBuilder(URI.create(route)).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()) \ "metadata"
      // the manifest list a conforming client writes for an append to
      // dev: dev's manifests carried, plus the new file
      val staged = IcebergRestCommit.stageManifestList(loaded, Some(devHead.snapshotId),
        staging, Seq(IcebergRestCommit.AddedFile(np, nSz, nN)), Nil, Set.empty,
        useStartingSequenceNumber = false)
      val body = s"""{"requirements":[{"type":"assert-ref-snapshot-id","ref":"dev",
        "snapshot-id":${devHead.snapshotId}}],"updates":[
        {"action":"add-snapshot","snapshot":{"snapshot-id":${staged.newSnapId},
         "sequence-number":${staged.newSeq},"timestamp-ms":1,
         "manifest-list":"${staged.listPath}","summary":{"operation":"append"}}},
        {"action":"set-snapshot-ref","ref-name":"dev","type":"branch",
         "snapshot-id":${staged.newSnapId}}]}"""
      val resp = http.send(HttpRequest.newBuilder(URI.create(route))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200, resp.body())

      val after = cat.loadTable("t")
      assert(after.currentSnapshotId == before.currentSnapshotId, "main must not move")
      val snap = after.snapshotForRef("dev").get
      assert(snap.snapshotId == staged.newSnapId)
      assert(snap.parentId.contains(devHead.snapshotId),
        s"parent must be dev's old head ${devHead.snapshotId}, got ${snap.parentId}")
      assert(snap.summary("added-data-files") == "1", snap.summary)
      val own = snap.manifest.find(_.path == devOwn.head.path).get
      assert(own.sequenceNumber == devOwn.head.sequenceNumber,
        "dev's own file must keep its sequence number")
      assert(own.firstRowId == devOwn.head.firstRowId, "dev's own file must keep its row ids")
      val added = snap.manifest.find(_.path == np).get
      assert(added.sequenceNumber == before.lastSequenceNumber + 1)
      assert(added.firstRowId.contains(before.nextRowId))
      assert(after.nextRowId == before.nextRowId + nN)
    } finally srv.stop()
  }

  /** One v3 REST commit shape: what it adds and removes, and whether the
    * added data file keeps a client-claimed row-id range. */
  private final case class Shape(name: String, operation: String,
      addedDeletes: Int, removedData: Int, keepsClientIds: Boolean)

  Seq(
    Shape("append", "append", 0, 0, keepsClientIds = false),
    Shape("row-delta with a DV", "overwrite", 1, 0, keepsClientIds = false),
    Shape("replace keeping client ids", "replace", 0, 1, keepsClientIds = true),
    Shape("replace with server-assigned ids", "replace", 0, 1, keepsClientIds = false)
  ).foreach { shape =>
    test(s"v3 REST ${shape.name}: operation, summary, sequences and row ids") {
      val cat = freshCatalog()
      IceWrite.create(spark, cat, "t",
        (1L to 20L).map(i => (i, s"n$i")).toDF("id", "name").repartition(1),
        formatVersion = 3)
      IceWrite.append(spark, cat, "t",
        (21L to 30L).map(i => (i, s"n$i")).toDF("id", "name").repartition(1))
      // a custom property on the head's summary, which the commit carries
      cat.transact("t")(m => m.copy(snapshots = m.snapshots.map(sn =>
        if (m.currentSnapshotId.contains(sn.snapshotId))
          sn.copy(summary = sn.summary + ("app.batch" -> "b7"))
        else sn)))
      val head = cat.loadTable("t")
      val headSnap = head.currentSnapshot.get
      val first = headSnap.manifest.find(_.recordCount == 20L).get
      val newSeq = head.lastSequenceNumber + 1

      val srv = new IcebergRestServe(cat, namespace = "wh", prefix = "p")
      try {
        val staging = Files.createTempDirectory("rest-wr-shape").toString
        val replace = shape.removedData > 0
        val rows = if (replace) (1L to 20L) else Seq(100L)
        val (np, nSz, nN) = writeParquet(IceWrite.withFieldIds(
          rows.map(i => (i, s"n$i")).toDF("id", "name"), head.schema), staging, "new.parquet")
        // appends and deltas propose ids too: the server must ignore them
        val claimed = if (replace && !shape.keepsClientIds) None else first.firstRowId
        val file = IcebergRestCommit.AddedFile(np, nSz, nN, firstRowId = claimed)
        if (replace)
          IcebergRestCommit.replaceFiles(srv.uri, Seq("wh"), "t", Seq(first.path),
            Seq(file), staging)
        else if (shape.addedDeletes > 0) {
          val pf = MetaIO.join(staging, "dv.puffin")
          val metas = Puffin.write(pf, Seq(Puffin.Blob(Puffin.DvBlobType,
            Puffin.encodeDvBlob(Puffin.PositionBitmap.of(Seq(0L, 1L))), 1L, 1L,
            properties = Map("referenced-data-file" -> first.path, "cardinality" -> "2"))))
          IcebergRestCommit.commitDelta(srv.uri, Seq("wh"), "t", Seq(file),
            Seq(IcebergRestCommit.AddedDeleteFile(pf, MetaIO.size(pf), 2L, "dv",
              referencedDataFile = Some(first.path),
              contentOffset = Some(metas.head.offset),
              contentSizeInBytes = Some(metas.head.length))), staging)
        } else
          IcebergRestCommit.appendFiles(srv.uri, Seq("wh"), "t", Seq(file), staging)

        val after = cat.loadTable("t")
        val snap = after.currentSnapshot.get
        val data = snap.manifest.filter(_.content == FileContent.Data)
        val deletes = snap.manifest.filterNot(_.content == FileContent.Data)
        assert(snap.parentId.contains(headSnap.snapshotId))
        assert(snap.sequenceNumber == newSeq && after.lastSequenceNumber == newSeq)
        assert(snap.summary("operation") == shape.operation)
        assert(snap.summary("app.batch") == "b7", "custom summary properties carry forward")
        assert(snap.summary("added-data-files") == "1")
        assert(snap.summary("added-records") == nN.toString)
        assert(snap.summary("added-delete-files") == shape.addedDeletes.toString)
        assert(snap.summary("deleted-data-files") == shape.removedData.toString)
        assert(snap.summary("deleted-records") == (if (replace) "20" else "0"))
        assert(snap.summary("total-data-files") == data.size.toString)
        assert(snap.summary("total-delete-files") == deletes.size.toString)
        assert(snap.summary("total-records") == data.map(_.recordCount).sum.toString)

        val added = data.find(_.path == np).get
        // a replace keeps the starting sequence number; the others take
        // the commit's own
        assert(added.sequenceNumber == (if (replace) headSnap.sequenceNumber else newSeq))
        deletes.foreach { d =>
          assert(d.sequenceNumber == newSeq && d.firstRowId.isEmpty)
        }
        if (shape.keepsClientIds) {
          assert(added.firstRowId == first.firstRowId, "a replace keeps claimed ids")
          assert(after.nextRowId == head.nextRowId)
        } else {
          assert(added.firstRowId.contains(head.nextRowId), "the server assigns ids")
          assert(after.nextRowId == head.nextRowId + nN)
        }
        // files the commit did not touch keep their sequence and ids
        data.filter(_.path != np).foreach { f =>
          val was = headSnap.manifest.find(_.path == f.path).get
          assert(f.sequenceNumber == was.sequenceNumber && f.firstRowId == was.firstRowId)
        }
      } finally srv.stop()
    }
  }
}
