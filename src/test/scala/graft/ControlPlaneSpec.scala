package graft

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.zip.{ZipEntry, ZipOutputStream}
import javax.imageio.ImageIO

import graft.service.ControlPlane

/** End-to-end drive of the HTTP control plane against a loopback zip
  * fixture: the full reference session (`server.py`) — status poll,
  * serialize, completion poll, re-serialize rejection, deserialize /
  * training hand-off — over real HTTP. */
class ControlPlaneSpec extends SparkSpec {

  private def pngBytes(rgb: Int): Array[Byte] = {
    val img = new BufferedImage(3, 2, BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 3; y <- 0 until 2) img.setRGB(x, y, rgb)
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def datasetZip(): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    for ((label, rgb) <- Seq("cat" -> 0xff0000, "dog" -> 0x00ff00)) {
      z.putNextEntry(new ZipEntry(s"$label/a.png"))
      z.write(pngBytes(rgb))
      z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  private def withFixtureServer(bytes: Array[Byte])(f: String => Unit): Unit = {
    val srv = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    srv.createContext("/data.zip", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.sendResponseHeaders(200, bytes.length)
      try ex.getResponseBody.write(bytes) finally ex.close()
    })
    srv.start()
    try f(s"http://127.0.0.1:${srv.getAddress.getPort}/data.zip")
    finally srv.stop(0)
  }

  private val client = HttpClient.newHttpClient()
  private def get(url: String): String =
    client.send(HttpRequest.newBuilder(java.net.URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()
  private def post(url: String, json: String): String =
    client.send(HttpRequest.newBuilder(java.net.URI.create(url))
      .POST(HttpRequest.BodyPublishers.ofString(json)).build(),
      HttpResponse.BodyHandlers.ofString()).body()

  private def pollUntil(cp: ControlPlane, want: ControlPlane.State,
                        timeoutMs: Long = 60000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (cp.currentState != want && System.currentTimeMillis() < deadline) {
      cp.currentState match {
        case ControlPlane.Failed(why) => fail(s"control plane failed: $why")
        case _ => Thread.sleep(100)
      }
    }
    assert(cp.currentState == want, s"timed out waiting for $want, at ${cp.currentState}")
  }

  test("full session: poll → serialize → poll → re-serialize → deserialize → trained") {
    withFixtureServer(datasetZip()) { zipUrl =>
      val work = java.nio.file.Files.createTempDirectory("graft-cp").toString
      val cp = new ControlPlane(spark, work)
      val port = cp.start()
      try {
        val ep = s"http://127.0.0.1:$port/download"
        assert(get(ep).startsWith("Send a POST request"))
        assert(post(ep, """{"command":"deserialize","batch_size":1}""") ==
          "Cannot deserialize before serialization.")
        assert(post(ep, """{"command":"bogus"}""") == "Please provide a valid command.")

        val r = post(ep, s"""{"command":"serialize","id":"ds1","url":"$zipUrl","input":[{}]}""")
        assert(r == "Dataset downloaded.")
        pollUntil(cp, ControlPlane.Serialized)
        assert(get(ep) == "Data Serialization complete!.\n")
        assert(post(ep, s"""{"command":"serialize","id":"ds1","url":"$zipUrl","input":[{}]}""") ==
          "Serialization already done. You can deserialize it now.")

        // the sink is real parquet with the scanned records
        val sunk = spark.read.parquet(s"${cp.sinkDir}/datumdb.parquet")
        assert(sunk.count() == 2)
        assert(sunk.columns.toSet == Set("key", "path", "slabel", "content"))

        assert(post(ep, """{"command":"deserialize","batch_size":1}""") ==
          "Started training. Sit back.")
        pollUntil(cp, ControlPlane.Trained)
        assert(get(ep) == "Training complete.\n")
        assert(cp.shapes.keySet == Set("path", "content", "slabel"))
        // M1: a real fit ran — one epoch by default, finite loss, and the
        // input dims are the decoded 3x2 RGB pixels (path contributes 0)
        val report = cp.trainReport.get
        assert(report.epochLosses.length == 1)
        assert(report.epochLosses.forall(java.lang.Double.isFinite(_)))
        assert(report.inDim == 3 * 2 * 3)
        assert(report.outDims == Seq(1)) // slabel label head
      } finally cp.stop()
    }
  }

  test("stop() ends the handler threads, so sessions do not pile up threads") {
    def liveThreads = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread]).toSet
    val before = liveThreads
    val cp = new ControlPlane(spark, java.nio.file.Files.createTempDirectory("graft-cp-stop").toString)
    val port = cp.start()
    // each request runs on a pool thread, which the pool creates lazily
    (1 to 4).foreach(_ => assert(get(s"http://127.0.0.1:$port/download").startsWith("Send a POST")))
    // non-daemon ones only: the HTTP client's daemon workers idle on by design
    val started = (liveThreads -- before).filterNot(_.isDaemon)
    assert(started.nonEmpty, "the handler pool's threads should be running")
    cp.stop()
    val deadline = System.currentTimeMillis() + 10000
    def leaked = started.filter(_.isAlive)
    while (leaked.nonEmpty && System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(leaked.isEmpty, s"threads still alive after stop(): ${leaked.map(_.getName)}")
  }

  test("S4 multi-input layout: input list > 1 routes to the n-per-record scan") {
    // dir/<stream>/<label>/<img> layout — two streams, one label, one
    // record; serialize with a 2-element input spec must pivot to one
    // wide row per record (Ingest.readImageStreams)
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    for (stream <- Seq("rgb", "depth")) {
      z.putNextEntry(new ZipEntry(s"$stream/cat/a.png"))
      z.write(pngBytes(0x123456))
      z.closeEntry()
    }
    z.close()
    withFixtureServer(bos.toByteArray) { zipUrl =>
      val work = java.nio.file.Files.createTempDirectory("graft-cp-s4").toString
      val cp = new ControlPlane(spark, work)
      val port = cp.start()
      try {
        val ep = s"http://127.0.0.1:$port/download"
        post(ep, s"""{"command":"serialize","id":"s4","url":"$zipUrl","input":[{},{}]}""")
        pollUntil(cp, ControlPlane.Serialized)
        val sunk = spark.read.parquet(s"${cp.sinkDir}/datumdb.parquet")
        assert(sunk.count() == 1, "one wide record, not one row per file")
        assert(sunk.columns.contains("rgb") && sunk.columns.contains("depth"))
      } finally cp.stop()
    }
  }

  test("S5 binding layout: image_binding request routes to the binding scan") {
    // zip: a csv binding table + per-stream image dirs with distinct
    // extensions — the full reference S5 spec (serialize.py:504-605):
    // each input/output entry names its binding_field, directory, and
    // extension; records come from binding rows, not dir structure.
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    z.putNextEntry(new ZipEntry("bindings.csv"))
    z.write("in0,out0\nx1,y1\nx2,y2\n".getBytes("UTF-8"))
    z.closeEntry()
    for (stem <- Seq("x1", "x2")) {
      z.putNextEntry(new ZipEntry(s"imgs/$stem.png"))
      z.write(pngBytes(0xaa00aa))
      z.closeEntry()
    }
    for (stem <- Seq("y1", "y2")) {
      z.putNextEntry(new ZipEntry(s"masks/$stem.png"))
      z.write(pngBytes(0x00aaaa))
      z.closeEntry()
    }
    z.close()
    withFixtureServer(bos.toByteArray) { zipUrl =>
      val work = java.nio.file.Files.createTempDirectory("graft-cp-s5").toString
      val cp = new ControlPlane(spark, work)
      val port = cp.start()
      try {
        val ep = s"http://127.0.0.1:$port/download"
        val req = s"""{"command":"serialize","id":"s5","url":"$zipUrl",
          "image_binding":{"file":"bindings.csv"},
          "input":[{"dataType":"image","directory":"imgs",
                    "binding_field":"in0","extension":".png"}],
          "output":[{"dataType":"image","directory":"masks",
                     "binding_field":"out0","extension":".png"}]}"""
        assert(post(ep, req) == "Dataset downloaded.")
        pollUntil(cp, ControlPlane.Serialized)
        val sunk = spark.read.parquet(s"${cp.sinkDir}/datumdb.parquet")
        assert(sunk.count() == 2, "one row per binding record")
        assert(Set("in0_path", "in0_content", "out0_path", "out0_content")
          .subsetOf(sunk.columns.toSet))
        // per-stream directories resolved: input stems from imgs/,
        // output stems from masks/
        val paths = sunk.selectExpr("in0_path", "out0_path")
          .collect().map(r => (r.getString(0), r.getString(1)))
        assert(paths.forall { case (i, o) =>
          i.contains("/imgs/") && o.contains("/masks/") })

        // the training hand-off feeds the request-declared streams, not
        // the dir-layout slabel convention
        assert(post(ep, """{"command":"deserialize","batch_size":1}""") ==
          "Started training. Sit back.")
        pollUntil(cp, ControlPlane.Trained)
        assert(cp.shapes.keySet == Set("in0_content", "out0_content"))
        // M1 MIMO: the output stream is an image head — Dense(h*w*3)
        val report = cp.trainReport.get
        assert(report.inDim == 3 * 2 * 3)
        assert(report.outDims == Seq(3 * 2 * 3))
        assert(report.epochLosses.forall(java.lang.Double.isFinite(_)))
      } finally cp.stop()
    }
  }

  test("S5 numeric output stream: side file rows pair with binding records positionally") {
    // reference serialize.py:583-612: a numeric stream reads its OWN csv
    // (one float vector per row), record i pairing with binding row i —
    // not a binding_field lookup. The declared roles must reach the
    // hand-off: the label stream here is the numeric side file.
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    z.putNextEntry(new ZipEntry("bindings.csv"))
    z.write("in0\nx1\nx2\n".getBytes("UTF-8"))
    z.closeEntry()
    z.putNextEntry(new ZipEntry("labels.csv"))
    z.write("v1,v2\n0.5,1.5\n2.5,3.5\n".getBytes("UTF-8"))
    z.closeEntry()
    for (stem <- Seq("x1", "x2")) {
      z.putNextEntry(new ZipEntry(s"imgs/$stem.png"))
      z.write(pngBytes(0x336699))
      z.closeEntry()
    }
    z.close()
    withFixtureServer(bos.toByteArray) { zipUrl =>
      val work = java.nio.file.Files.createTempDirectory("graft-cp-s5n").toString
      val cp = new ControlPlane(spark, work)
      val port = cp.start()
      try {
        val ep = s"http://127.0.0.1:$port/download"
        val req = s"""{"command":"serialize","id":"s5n","url":"$zipUrl",
          "image_binding":{"file":"bindings.csv"},
          "input":[{"dataType":"image","directory":"imgs",
                    "binding_field":"in0","extension":".png"}],
          "output":[{"dataType":"numeric","file":"labels.csv"}]}"""
        assert(post(ep, req) == "Dataset downloaded.")
        pollUntil(cp, ControlPlane.Serialized)
        val sunk = spark.read.parquet(s"${cp.sinkDir}/datumdb.parquet")
        assert(sunk.count() == 2)
        // positional pairing: binding row (x1) ↔ labels row 1
        val byStem = sunk.selectExpr("in0", "labels_content")
          .collect().map(r => r.getString(0) -> r.getSeq[Float](1)).toMap
        assert(byStem("x1") == Seq(0.5f, 1.5f))
        assert(byStem("x2") == Seq(2.5f, 3.5f))
        assert(post(ep, """{"command":"deserialize","batch_size":1}""") ==
          "Started training. Sit back.")
        pollUntil(cp, ControlPlane.Trained)
        assert(cp.shapes.keySet == Set("in0_content", "labels_content"))
      } finally cp.stop()
    }
  }

  test("S5 rejects an unknown stream dataType (reference sys.exit parity)") {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    z.putNextEntry(new ZipEntry("bindings.csv"))
    z.write("in0\nx1\n".getBytes("UTF-8"))
    z.closeEntry()
    z.putNextEntry(new ZipEntry("imgs/x1.png"))
    z.write(pngBytes(0x101010))
    z.closeEntry()
    z.close()
    withFixtureServer(bos.toByteArray) { zipUrl =>
      val work = java.nio.file.Files.createTempDirectory("graft-cp-s5bad").toString
      val cp = new ControlPlane(spark, work)
      val port = cp.start()
      try {
        val ep = s"http://127.0.0.1:$port/download"
        val req = s"""{"command":"serialize","id":"bad","url":"$zipUrl",
          "image_binding":{"file":"bindings.csv"},
          "input":[{"dataType":"image","directory":"imgs",
                    "binding_field":"in0","extension":".png"}],
          "output":[{"dataType":"tensor","file":"whatever.bin"}]}"""
        assert(post(ep, req) == "Dataset downloaded.")
        val deadline = System.currentTimeMillis() + 60000
        while (!cp.currentState.isInstanceOf[ControlPlane.Failed] &&
               System.currentTimeMillis() < deadline) Thread.sleep(100)
        cp.currentState match {
          case ControlPlane.Failed(why) => assert(why.contains("invalid dataType"))
          case s => fail(s"expected Failed, at $s")
        }
      } finally cp.stop()
    }
  }

  test("invalid batch_size is rejected BEFORE the Training transition (no wedge)") {
    withFixtureServer(datasetZip()) { zipUrl =>
      val work = java.nio.file.Files.createTempDirectory("graft-cp-badbs").toString
      val cp = new ControlPlane(spark, work)
      val port = cp.start()
      try {
        val ep = s"http://127.0.0.1:$port/download"
        assert(post(ep, s"""{"command":"serialize","id":"x","url":"$zipUrl"}""") ==
          "Dataset downloaded.")
        pollUntil(cp, ControlPlane.Serialized)
        // a non-numeric batch_size once moved state to Training and then
        // threw, wedging the machine there forever
        assert(post(ep, """{"command":"deserialize","batch_size":"abc"}""") ==
          "Please provide a valid command.")
        assert(post(ep, """{"command":"deserialize","batch_size":0}""") ==
          "Please provide a valid command.")
        // epochs gets the same up-front validation (keras_mimo.py:14)
        assert(post(ep, """{"command":"deserialize","batch_size":1,"epochs":0}""") ==
          "Please provide a valid command.")
        assert(post(ep, """{"command":"deserialize","batch_size":1,"epochs":"x"}""") ==
          "Please provide a valid command.")
        assert(cp.currentState == ControlPlane.Serialized)
        // a valid request still goes through afterwards; epochs drives
        // the fit loop (one loss per epoch)
        assert(post(ep, """{"command":"deserialize","batch_size":1,"epochs":3}""") ==
          "Started training. Sit back.")
        pollUntil(cp, ControlPlane.Trained)
        assert(cp.trainReport.get.epochLosses.length == 3)
      } finally cp.stop()
    }
  }

  test("multi-epoch fit at 10x fixture size: one pinned sort per fit, bit-identical curves") {
    // the D3 scale contract driven END-TO-END through the service: a
    // 10x-larger dataset (20 records vs the 2-record base fixture),
    // serialize -> pre-flight -> deserialize -> 3-epoch MimoTrainer fit.
    // Asserts (a) the pinned-epoch path sorts ONCE per fit — epochs are
    // linear scans of the checkpointed layout, never re-sorts (the q139
    // repeated-scan lesson applied to training reads) — and (b) the loss
    // curve is bit-identical across two full fits (deterministic batches
    // + seeded init), which a re-executed range sample would break.
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    for ((label, base) <- Seq("cat" -> 0x102030, "dog" -> 0x405060); i <- 0 until 10) {
      z.putNextEntry(new ZipEntry(s"$label/img$i.png"))
      z.write(pngBytes(base + i * 0x010101))
      z.closeEntry()
    }
    z.close()
    withFixtureServer(bos.toByteArray) { zipUrl =>
      val work = java.nio.file.Files.createTempDirectory("graft-cp-epochs").toString
      val cp = new ControlPlane(spark, work)
      val port = cp.start()
      try {
        val ep = s"http://127.0.0.1:$port/download"
        assert(post(ep, s"""{"command":"serialize","id":"e","url":"$zipUrl","input":[{}]}""") ==
          "Dataset downloaded.")
        pollUntil(cp, ControlPlane.Serialized)
        // count sort-bearing executions during training: the shape probe
        // (orderBy.limit(1)) and the epoch-layout pin (orderBy.limit(n),
        // TakeOrdered or Sort) are the only two allowed per fit; a
        // per-epoch re-sort would add one per epoch
        val sortQEs = new java.util.concurrent.atomic.AtomicInteger(0)
        val listener = new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                                 ns: Long): Unit = {
            val p = qe.executedPlan.toString
            if (p.contains("Sort ") || p.contains("TakeOrderedAndProject"))
              sortQEs.incrementAndGet()
            ()
          }
          override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                                 e: Exception): Unit = ()
        }
        spark.listenerManager.register(listener)
        try {
          assert(post(ep, """{"command":"deserialize","batch_size":4,"epochs":3}""") ==
            "Started training. Sit back.")
          pollUntil(cp, ControlPlane.Trained)
          val first = cp.trainReport.get.epochLosses
          assert(first.length == 3 && first.forall(java.lang.Double.isFinite(_)))
          // second identical fit from the Trained state
          assert(post(ep, """{"command":"deserialize","batch_size":4,"epochs":3}""") ==
            "Started training. Sit back.")
          pollUntil(cp, ControlPlane.Trained)
          val second = cp.trainReport.get.epochLosses
          assert(second == first,
            s"loss curve must be bit-identical across fits: $first vs $second")
          // QueryExecutionListener events dispatch asynchronously — let
          // the count settle before asserting on it
          var last = -1
          var stable = 0
          while (stable < 3) {
            val now = sortQEs.get()
            if (now == last) stable += 1 else { stable = 0; last = now }
            Thread.sleep(200)
          }
          assert(sortQEs.get() <= 4,
            s"expected at most 2 sort-bearing executions per fit (probe + pin), " +
              s"saw ${sortQEs.get()} across two 3-epoch fits — an epoch is re-sorting")
        } finally spark.listenerManager.unregister(listener)
      } finally cp.stop()
    }
  }

  test("restart recovery: a persisted sink is deserializable without re-serializing") {
    withFixtureServer(datasetZip()) { zipUrl =>
      val work = java.nio.file.Files.createTempDirectory("graft-cp-restart").toString
      val cp1 = new ControlPlane(spark, work)
      val port1 = cp1.start()
      try {
        assert(post(s"http://127.0.0.1:$port1/download",
          s"""{"command":"serialize","id":"r","url":"$zipUrl"}""") == "Dataset downloaded.")
        pollUntil(cp1, ControlPlane.Serialized)
      } finally cp1.stop()
      // fresh process over the same workDir: the sink on disk IS the
      // Serialized state — deserialize must not demand a re-download
      val cp2 = new ControlPlane(spark, work)
      val port2 = cp2.start()
      try {
        assert(cp2.currentState == ControlPlane.Serialized)
        assert(post(s"http://127.0.0.1:$port2/download",
          """{"command":"deserialize","batch_size":1}""") == "Started training. Sit back.")
        pollUntil(cp2, ControlPlane.Trained)
        assert(cp2.shapes.nonEmpty)
      } finally cp2.stop()
    }
  }

  test("PipelineClient drives the control plane like the reference CLI (C3)") {
    withFixtureServer(datasetZip()) { zipUrl =>
      val work = java.nio.file.Files.createTempDirectory("graft-cp-cli").toString
      val cp = new ControlPlane(spark, work)
      val port = cp.start()
      try {
        val ep = s"http://127.0.0.1:$port/download"
        assert(graft.service.PipelineClient.send("GET", None, ep)
          .startsWith("Send a POST request"))
        val reqFile = java.nio.file.Files.createTempFile("req", ".json")
        java.nio.file.Files.writeString(reqFile,
          s"""{"command":"serialize","id":"cli","url":"$zipUrl","input":[{}]}""")
        assert(graft.service.PipelineClient.send("POST", Some(reqFile.toString), ep) ==
          "Dataset downloaded.")
        pollUntil(cp, ControlPlane.Serialized)
        assert(graft.service.PipelineClient.send("GET", None, ep) ==
          "Data Serialization complete!.\n")
      } finally cp.stop()
    }
  }

  test("failed download resets to Idle instead of wedging (reference bug fixed)") {
    val work = java.nio.file.Files.createTempDirectory("graft-cp2").toString
    val cp = new ControlPlane(spark, work)
    val port = cp.start()
    try {
      val ep = s"http://127.0.0.1:$port/download"
      val r = post(ep,
        """{"command":"serialize","id":"x","url":"http://127.0.0.1:1/nope.zip","input":[{}]}""")
      assert(r == "Error downloading dataset.")
      assert(cp.currentState == ControlPlane.Idle)
      // server is still usable: idle status, serialize accepted again
      assert(get(ep).startsWith("Send a POST request"))
    } finally cp.stop()
  }
}
