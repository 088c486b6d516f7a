package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.SparkSession

import graft.catalog.Tables
import graft.ingest.{Archive, BatchExport, Ingest}
import graft.ml.MimoTrainer
import graft.service.ControlPlane

/** ControlPlane sessions: serialize a generated S3-layout zip served on
  * loopback, then deserialize it into `MimoTrainer`. Every session gets a
  * fresh `ControlPlane` and work dir. A traced operation replays the same
  * public library calls the ControlPlane makes, in the same order, inside
  * spans; its sink must equal the HTTP sessions' sink. */
final class IngestTrain(spark: SparkSession, runDir: String, archive: String, manifestPath: String,
                        tracer: Tracer) extends Workload {
  import IngestTrain._

  /** (label, file name, crc32) of every image, in (label, name) order. */
  private val manifest: IndexedSeq[(String, String, Long)] =
    scala.io.Source.fromFile(manifestPath, "UTF-8").getLines().filter(_.nonEmpty).map { l =>
      val Array(label, name, crc) = l.split('\t')
      (label, name, crc.toLong)
    }.toIndexedSeq
  private val n = manifest.size
  private val steps = Epochs.toLong * (n / BatchSize)

  private val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/dataset.zip", ex => {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(archive))
    ex.sendResponseHeaders(200, bytes.length)
    try ex.getResponseBody.write(bytes) finally ex.close()
  })
  server.start()
  private val zipUrl = s"http://127.0.0.1:${server.getAddress.getPort}/dataset.zip"
  private val client = HttpClient.newHttpClient()
  private var sessions = 0
  /** The first session's sink rows; every later sink must equal them. */
  private var reference: Option[Seq[SinkRow]] = None

  override def close(): Unit = server.stop(0)

  def warm(): Op = http()
  def op(traced: Boolean): Op = if (traced) replay() else http()
  override def replayDiffers: Boolean = true

  private def workDir(): String = {
    sessions += 1
    s"$runDir/sessions/$sessions"
  }

  private def send(req: HttpRequest): String = {
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    if (r.statusCode() != 200) throw new IllegalStateException(s"HTTP ${r.statusCode()}: ${r.body()}")
    r.body()
  }
  private def post(url: String, body: String): String =
    send(HttpRequest.newBuilder(URI.create(url)).POST(HttpRequest.BodyPublishers.ofString(body)).build())

  /** Poll GET until the status reads `done`; a `Failed:` status throws. */
  private def await(url: String, done: String): Unit = {
    val get = HttpRequest.newBuilder(URI.create(url)).GET().build()
    val limit = System.nanoTime() + 150L * 1000000000L
    var status = send(get).trim
    while (status != done) {
      if (status.startsWith("Failed:")) throw new IllegalStateException(status)
      if (System.nanoTime() > limit) throw new IllegalStateException(s"timed out at: $status")
      Thread.sleep(PollMs)
      status = send(get).trim
    }
  }

  private def http(): Op = {
    val work = workDir()
    val cp = new ControlPlane(spark, work)
    val url = s"http://127.0.0.1:${cp.start()}/download"
    try {
      val t0 = Clock.now()
      val downloaded = post(url, Json.obj("command" -> "serialize", "url" -> zipUrl))
      val postS = Clock.now() - t0
      if (downloaded != "Dataset downloaded.") throw new IllegalStateException(downloaded)
      await(url, "Data Serialization complete!.")
      val t1 = Clock.now()
      val started = post(url, Json.obj("command" -> "deserialize", "batch_size" -> BatchSize,
        "epochs" -> Epochs))
      if (started != "Started training. Sit back.") throw new IllegalStateException(started)
      await(url, "Training complete.")
      val t2 = Clock.now()
      val report = cp.trainReport
      val sink = s"${cp.sinkDir}/$SinkName.parquet"
      Op(t2 - t0, t1 - t0, t2 - t1, 1, Nil, Map("service.post_serialize_s" -> postS),
        () => try checkSession(sink, report) finally deleteTree(work))
    } catch {
      case e: Exception =>
        deleteTree(work)
        throw e
    } finally cp.stop()
  }

  /** The ControlPlane's serialize and train jobs as direct library calls,
    * in spans when the tracer is on. */
  override def replay(): Op = {
    val work = workDir()
    val zipPath = s"$work/datasets/dataset.zip"
    val dataDir = s"$work/datasets/dataset"
    val sinkDir = s"$work/lmdb"
    var serializeS, trainS = 0.0
    var files = 0
    var report: Option[MimoTrainer.Report] = None
    val t0 = Clock.now()
    tracer.span("session", "other", sessions.toString) {
      tracer.span("archive.fetch")(Archive.fetch(zipUrl, zipPath))
      files = tracer.span("archive.extract")(Archive.extractZip(zipPath, dataDir)).size
      val scanned = tracer.span("ingest.read_construct", "construct")(Ingest.readImageDir(spark, dataDir))
      tracer.span("catalog.preflight")(Tables.requireSinkFitsFromInput(dataDir, sinkDir, safetyFactor = 1.5))
      tracer.span("catalog.save", "execute")(Tables.save(scanned, sinkDir, SinkName))
      serializeS = Clock.now() - t0
      val t1 = Clock.now()
      val df = spark.read.parquet(s"$sinkDir/$SinkName.parquet")
      val inputCols = df.columns.filter(c => c != "key" && c != "slabel").toSeq
      val export = BatchExport(df, "key", inputCols, Seq("slabel"), BatchSize)
      try {
        tracer.span("export.shapes", "execute")(export.shapes)
        tracer.span("export.count", "execute")(export.nBatches)
        val rows = tracer.span("export.pin", "execute")(export.epochRows)
        if (rows != export.nBatches * BatchSize)
          throw new IllegalStateException(s"epoch view holds $rows of ${export.nBatches * BatchSize} rows")
        val trainer = new MimoTrainer(inputCols, Seq("slabel"), Epochs)
        report = Some(tracer.span("ml.fit") {
          trainer.fit(new TimedIterator(export.batches(), tracer), export.nBatches)
        })
      } finally export.release()
      trainS = Clock.now() - t1
    }
    val sink = s"$sinkDir/$SinkName.parquet"
    val extra = Map(
      "archive.files" -> files.toDouble,
      "catalog.sink_bytes_per_input_byte" -> bytes(new java.io.File(sinkDir)).toDouble /
        bytes(new java.io.File(dataDir)),
      "export.rows_delivered" -> (report.map(_.nSteps).getOrElse(0L) * BatchSize).toDouble,
      "ml.steps" -> report.map(_.nSteps.toDouble).getOrElse(0.0))
    Op(Clock.now() - t0, serializeS, trainS, 1, Nil, extra,
      () => try checkSession(sink, report) finally deleteTree(work))
  }

  /** Sink rows, keys, labels and payloads against the generator's
    * manifest and the first session's sink; steps and losses of the fit. */
  private def checkSession(sink: String, report: Option[MimoTrainer.Report]): Seq[String] = {
    val rows = spark.read.parquet(sink).selectExpr("key", "path", "slabel", "crc32(content)")
      .collect().map { r =>
        val p = r.getString(1)
        SinkRow(r.getLong(0), p.substring(p.indexOf(DataMarker) + DataMarker.length), r.getString(2),
          r.getLong(3))
      }.sortBy(_.key).toSeq
    val problems = Seq.newBuilder[String]
    if (rows.size != n) problems += s"sink holds ${rows.size} rows, expected $n"
    if (rows.map(_.key) != (1L to rows.size.toLong)) problems += "sink keys are not dense 1..N"
    val wrong = rows.zip(manifest).count { case (r, (label, name, crc)) =>
      r.slabel != label || r.path != s"$label/$name" || r.crc != crc
    }
    if (wrong > 0) problems += s"$wrong sink records disagree with the generator"
    reference match {
      case None => reference = Some(rows)
      case Some(ref) => if (ref != rows) problems += "sink differs from the first session's sink"
    }
    report match {
      case None => problems += "no training report"
      case Some(r) =>
        if (r.nSteps != steps) problems += s"trainer ran ${r.nSteps} steps, expected $steps"
        if (r.epochLosses.size != Epochs || !r.epochLosses.forall(l => !l.isNaN && !l.isInfinite))
          problems += s"epoch losses ${r.epochLosses.mkString(",")}"
    }
    problems.result()
  }
}

object IngestTrain {
  val BatchSize = 32
  val Epochs = 3
  val SinkName = "datumdb"
  val PollMs = 5L
  /** The ControlPlane extracts under `<work>/datasets/dataset/`. */
  val DataMarker = "/datasets/dataset/"

  final case class SinkRow(key: Long, path: String, slabel: String, crc: Long)

  def bytes(f: java.io.File): Long =
    if (f.isFile) f.length() else Option(f.listFiles()).toSeq.flatten.map(bytes).sum

  def deleteTree(path: String): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** Times each wait of the trainer on the batch stream as one
    * `export.next` span: `hasNext` pulls the element, `next` hands it over. */
  final class TimedIterator[T](underlying: Iterator[T], tracer: Tracer) extends Iterator[T] {
    private var pending: Option[T] = None
    def hasNext: Boolean = pending.isDefined || tracer.span("export.next", "execute") {
      if (underlying.hasNext) { pending = Some(underlying.next()); true } else false
    }
    def next(): T = {
      if (!hasNext) throw new NoSuchElementException("batch stream exhausted")
      val t = pending.get
      pending = None
      t
    }
  }
}
