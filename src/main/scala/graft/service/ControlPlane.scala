package graft.service

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.catalog.Tables
import graft.ingest.{Archive, BatchExport, Ingest}

/** HTTP control plane — the thin service shim over the library API,
  * reproducing the reference's only user interface
  * (`/root/reference/server.py:42-88,176-205`): a single resource at
  * `/download` whose GET is a status poll and whose POST carries a JSON
  * `command` of `serialize` (fetch zip → extract → scan → sink) or
  * `deserialize` (open the sunk dataset and drive the batched export,
  * the engine's training hand-off, D1–D3).
  *
  * State machine (reference `serialized_flag`/`data` flags, `server.py:
  * 57-88`): Idle → Serializing → Serialized → Training → Trained, plus
  * Failed. Response strings match the reference's where a state exists
  * on both sides. Intentional fixes over the reference: a failed
  * download resets to Idle instead of wedging the flags (`server.py`
  * leaves `self.data` set, so a typo'd URL bricks the server until
  * restart), the download happens ONCE (the reference downloads every
  * archive twice — `urlretrieve` then a manual loop, `server.py:96-99`),
  * and training has its own observable status (the reference reports
  * "serialization complete" forever while training runs).
  *
  * Scale note: this is a CONTROL plane — the data plane stays entirely
  * in Spark jobs it launches. The servlet threads never hold rows; the
  * serialize job's output is the parquet sink ([[Tables.save]]), and
  * deserialize streams one batch at a time ([[BatchExport.epoch]]).
  * Jobs run on one background thread: the reference service is
  * single-dataset by construction (module-level LMDB_DIR), and we keep
  * that contract rather than invent a multi-tenant scheduler here.
  */
final class ControlPlane(spark: SparkSession, workDir: String, port: Int = 0) {
  import ControlPlane._

  @volatile private var state: State = Idle
  /** Guards check-then-act state transitions: the handler pool is
    * multi-threaded (unlike the reference's single-threaded reactor, which
    * serializes `render_POST` for free), so two concurrent serialize
    * POSTs must not both observe Idle and both start jobs. */
  private val transition = new Object
  /** Atomically move `from` → `to`; false if the state changed meanwhile. */
  private def tryTransition(from: State => Boolean, to: State): Boolean =
    transition.synchronized {
      if (from(state)) { state = to; true } else false
    }
  /** Shapes reported by the last completed training hand-off. */
  @volatile private var lastShapes: Map[String, Seq[Int]] = Map.empty
  @volatile private var lastReport: Option[graft.ml.MimoTrainer.Report] = None
  private var server: HttpServer = _
  private var handlers: java.util.concurrent.ExecutorService = _

  private val zipPath = s"$workDir/datasets/dataset.zip"
  private val dataDir = s"$workDir/datasets/dataset"
  /** Parquet successor of the reference's `lmdb/datumdb` sink dir. */
  val sinkDir = s"$workDir/lmdb"
  private val sinkName = "datumdb"

  def currentState: State = state
  def shapes: Map[String, Seq[Int]] = lastShapes
  /** Loss curve of the last completed fit (M1). */
  def trainReport: Option[graft.ml.MimoTrainer.Report] = lastReport

  /** True when a previous serialize's parquet sink is on disk. */
  private def sinkExists: Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(s"$sinkDir/$sinkName.parquet"))

  /** Start listening; returns the bound port (ephemeral when `port`=0). */
  def start(): Int = synchronized {
    require(server == null, "already started")
    // restart recovery: a sink persisted by a previous process IS the
    // Serialized state — without this, the on-disk sink (and the S5
    // streams.json written beside it) could never be deserialized again
    if (state == Idle && sinkExists) state = Serialized
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/download", (ex: HttpExchange) => handle(ex))
    handlers = java.util.concurrent.Executors.newFixedThreadPool(4)
    server.setExecutor(handlers)
    server.start()
    server.getAddress.getPort
  }

  /** Stop listening and shut the handler pool down: its threads are not
    * daemons, so a pool left running per session would pile up in a
    * long-lived process and keep the JVM from exiting. */
  def stop(): Unit = synchronized {
    if (server != null) {
      server.stop(0); server = null
      handlers.shutdown(); handlers = null
    }
  }

  private def respond(ex: HttpExchange, text: String, code: Int = 200): Unit = {
    val bytes = text.getBytes(UTF_8)
    ex.sendResponseHeaders(code, bytes.length)
    try ex.getResponseBody.write(bytes) finally ex.close()
  }

  /** A positive-int request option: absent → default, present-and-valid
    * → value, anything else → None (the caller's invalid-command path). */
  private def posIntField(req: JValue, name: String, default: Int): Option[Int] =
    req \ name match {
      case JInt(n) if n >= 1 && n <= Int.MaxValue => Some(n.toInt)
      case JString(s) => s.toIntOption.filter(_ >= 1)
      case JNothing | JNull => Some(default)
      case _ => None
    }

  private def handle(ex: HttpExchange): Unit =
    try {
      ex.getRequestMethod match {
        case "GET"  => respond(ex, statusText)
        case "POST" => handlePost(ex)
        case _      => respond(ex, "Please provide a valid command.", 405)
      }
    } catch {
      case e: Exception => respond(ex, s"Error: ${e.getMessage}\n", 500)
    }

  private def statusText: String = state match {
    case Idle          => "Send a POST request to the same address to serialize the data.\n"
    case Serializing   => "Serializing the data. Try again later.\n"
    case Serialized    => "Data Serialization complete!.\n" // sic — server.py:188
    case Training      => "Training in progress.\n"
    case Trained       => "Training complete.\n"
    case Failed(why)   => s"Failed: $why\n"
  }

  private def handlePost(ex: HttpExchange): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    val req = JsonMethods.parseOpt(body).getOrElse(JNothing)
    def str(field: String): Option[String] =
      req \ field match { case JString(s) => Some(s); case _ => None }
    str("command") match {
      case Some("serialize") =>
        state match {
          case Serializing => respond(ex, statusText)
          case Serialized | Training | Trained =>
            respond(ex, "Serialization already done. You can deserialize it now.")
          case _ => str("url") match {
            case None => respond(ex, "Please provide a valid command.")
            case Some(url)
              if tryTransition(s => s == Idle || s.isInstanceOf[Failed], Serializing) =>
              // Reference shape (server.py:64,150-153): respond when the
              // download lands; serialization continues in background.
              try Archive.fetch(url, zipPath)
              catch {
                case _: Exception =>
                  state = Idle // fixed: reference wedges here
                  respond(ex, "Error downloading dataset.")
                  return
              }
              val job = new Thread(() => runSerialize(req), "graft-serialize")
              job.setDaemon(true)
              job.start()
              respond(ex, "Dataset downloaded.")
            // lost the transition race to a concurrent POST: poll semantics
            case Some(_) => respond(ex, statusText)
          }
        }
      case Some("deserialize") =>
        // parse + validate BEFORE the state transition: a bad batch_size
        // or epochs after moving to Training would wedge the machine
        // there forever (the job thread that could transition out is
        // never created)
        val batchSize = posIntField(req, "batch_size", default = 32)
        val epochs = posIntField(req, "epochs", default = 1) // keras_mimo.py:14
        if (batchSize.isEmpty || epochs.isEmpty) respond(ex, "Please provide a valid command.")
        // a FAILED train may retry as long as the sink survives — the
        // serialized data is intact, re-downloading the archive to get
        // out of Failed would be pure waste
        else if (tryTransition(s => s == Serialized || s == Trained ||
            (s.isInstanceOf[Failed] && sinkExists), Training)) {
          val job = new Thread(() => runTrainingHandOff(batchSize.get, epochs.get), "graft-train")
          job.setDaemon(true)
          job.start()
          respond(ex, "Started training. Sit back.")
        } else state match {
          case Training => respond(ex, statusText)
          case _ => respond(ex, "Cannot deserialize before serialization.")
        }
      case _ => respond(ex, "Please provide a valid command.")
    }
  }

  /** The serialize job: extract the staged zip, scan it with the layout
    * the request selects — S5 binding-table when `image_binding` is
    * present (`serialize.py:504-567`), else S3 single-input dir vs S4
    * n-per-record streams (`server.py:131-146`) — and sink to parquet. */
  private def runSerialize(req: JValue): Unit =
    try {
      Archive.extractZip(zipPath, dataDir)
      // stale stream metadata from an earlier S5 run must not describe
      // whatever this request is about to sink (or fail to sink)
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(streamsMetaPath))
      req \ "image_binding" match {
        case spec: JObject =>
          val (scanned, ins, outs) = readBindingLayout(req, spec)
          // W2: the reference reserves LMDB map_size here (serialize.py:
          // 438-442, du×100); the parquet successor asks the same
          // question as a loud pre-flight instead of a reservation —
          // from the INPUT footprint, so no extra scan of the source
          preflightSinkOrRefuse(req, scanned)
          Tables.save(scanned, sinkDir, sinkName)
          // roles AFTER the sink: a failed save must not leave a
          // streams.json describing a parquet that was never written
          writeStreamsMeta(ins, outs)
        case _ =>
          val nInputPerRecord = req \ "input" match {
            case JArray(specs) if specs.length > 1 => specs.length
            case JArray(List(one)) =>
              one \ "nInputPerRecord" match { case JInt(n) => n.toInt; case _ => 1 }
            case _ => 1
          }
          val scanned =
            if (nInputPerRecord > 1) Ingest.readImageStreams(spark, dataDir)
            else Ingest.readImageDir(spark, dataDir)
          preflightSinkOrRefuse(req, scanned) // W2 pre-flight (see above)
          Tables.save(scanned, sinkDir, sinkName)
      }
      state = Serialized
    } catch {
      case e: Exception => state = Failed(s"serialize: ${e.getMessage}")
    }

  /** W2 sink pre-flight with a request knob and a precision fallback.
    * The input-footprint check is scan-free but OVER-states compressible
    * sinks (numeric/text streams compress several-fold in parquet), so a
    * volume with 1.0–1.5× the input's free space would refuse a
    * serialize that succeeds. Two escape hatches: the request may set
    * `sink_safety_factor` (default 1.5, must be ≥ 1), and when the
    * cheap input-footprint check refuses, we re-judge with the sampled
    * REAL-codec estimate ([[Tables.requireSinkFits]]) before refusing —
    * the count + sample write is paid only in the borderline case. */
  private def preflightSinkOrRefuse(req: JValue,
                                    scanned: org.apache.spark.sql.DataFrame): Unit = {
    val sf = req \ "sink_safety_factor" match {
      case JDouble(v) => v
      case JDecimal(v) => v.toDouble
      case JInt(v) => v.toDouble
      case _ => 1.5
    }
    try { Tables.requireSinkFitsFromInput(dataDir, sinkDir, safetyFactor = sf); () }
    catch {
      case footprint: IllegalStateException =>
        try { Tables.requireSinkFits(scanned, sinkDir, safetyFactor = sf); () }
        catch {
          case _: IllegalStateException =>
            // both estimates refuse: report the footprint one — it names
            // the input dir, which is what the operator can act on
            throw footprint
        }
    }
  }

  import ControlPlane.SideStream

  /** S5: resolve the binding table (csv or json, optional `data_key` —
    * `serialize.py:504-567`) and every declared `input`/`output` stream:
    * image streams via `binding_field`/`directory`/`extension`
    * (`serialize.py:570-580`), numeric/text streams from their own files
    * (`serialize.py:583-612`); an unknown dataType is a hard error, the
    * reference's `sys.exit(-1)` (`serialize.py:592-594`). Returns the
    * scanned records plus the request's input/output content-column
    * names, recorded next to the sink so the training hand-off feeds the
    * streams the request declared, not the slabel convention of the dir
    * layouts. */
  private def readBindingLayout(req: JValue, spec: JObject)
      : (org.apache.spark.sql.DataFrame, Seq[String], Seq[String]) = {
    val file = spec \ "file" match {
      case JString(f) => f
      case _ => throw new IllegalArgumentException("image_binding needs a 'file'")
    }
    val dataKey = spec \ "data_key" match { case JString(k) => Some(k); case _ => None }
    val bindingPath = s"$dataDir/$file"
    val binding =
      if (file.endsWith(".csv")) Ingest.readCsv(spark, bindingPath)
      else Ingest.readJson(spark, bindingPath, dataKey)
    def streamsOf(field: String): Seq[Either[Ingest.BindingStream, SideStream]] =
      req \ field match {
        case JArray(specs) => specs.map {
          case s: JObject => s \ "dataType" match {
            case JString("image") =>
              val bf = s \ "binding_field" match {
                case JString(x) => x
                case _ => throw new IllegalArgumentException(
                  s"image stream in '$field' needs a 'binding_field'")
              }
              val dir = s \ "directory" match {
                case JString(d) => s"$dataDir/$d"
                case _          => dataDir
              }
              val ext = s \ "extension" match { case JString(e) => e; case _ => "" }
              Left(Ingest.BindingStream(bf, dir, ext))
            case JString(dt) if dt == "numeric" || dt == "text" =>
              val f = s \ "file" match {
                case JString(x) => x
                case _ => throw new IllegalArgumentException(
                  s"$dt stream in '$field' needs a 'file'")
              }
              val name = f.split('/').last.takeWhile(_ != '.')
                .map(c => if (c.isLetterOrDigit) c else '_')
              val textCol = s \ "text" match { case JString(t) => Some(t); case _ => None }
              Right(SideStream(name, f, numeric = dt == "numeric", textCol))
            case other =>
              // reference parity: invalid format is fatal (sys.exit(-1))
              throw new IllegalArgumentException(
                s"invalid dataType in '$field': $other")
          }
          case other => throw new IllegalArgumentException(
            s"malformed stream spec in '$field': $other")
        }
        case _ => Nil
      }
    val ins = streamsOf("input")
    val outs = streamsOf("output")
    if (!ins.exists(_.isLeft))
      throw new IllegalArgumentException("binding layout needs at least one image input")
    val sides = (ins ++ outs).collect { case Right(s) => s }
    val widened = attachSideStreams(binding, sides)
    val images = (ins ++ outs).collect { case Left(b) => b }
    def contentNames(xs: Seq[Either[Ingest.BindingStream, SideStream]]) =
      xs.map { case Left(b) => b.field; case Right(s) => s.name }
    (Ingest.readWithBinding(spark, widened, images),
      contentNames(ins), contentNames(outs))
  }

  /** Join each side stream's rows to the binding POSITIONALLY (record i ↔
    * row i, the reference's queue pairing). Both sides get a scalable
    * row id in file order; a row-count mismatch between a side file and
    * the binding table fails loudly instead of silently dropping the
    * excess records. */
  private def attachSideStreams(binding: org.apache.spark.sql.DataFrame,
                                sides: Seq[SideStream]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    if (sides.isEmpty) return binding
    // the scalable-key pass already computes exact totals — no extra
    // count() scans for the row-parity check
    val (keyedBinding, nBinding) = Ingest.withScalableKeyCounted(binding, "_row")
    val widened = sides.foldLeft(keyedBinding) { (acc, ss) =>
      val path = s"$dataDir/${ss.file}"
      val cName = s"${ss.name}_content"
      val content =
        if (ss.numeric) {
          // readNumeric: every csv row coerced to one float vector (P2)
          val df = Ingest.readCsv(spark, path)
          Ingest.toFeatureVector(df, df.columns.toSeq, cName).select(cName)
        } else if (ss.file.endsWith(".csv") || ss.file.endsWith(".json")) {
          val df = if (ss.file.endsWith(".csv")) Ingest.readCsv(spark, path)
                   else Ingest.readJson(spark, path)
          df.select(Ingest.selectTextColumn(df, ss.textCol).cast("string").as(cName))
        } else spark.read.text(path).select(col("value").as(cName))
      val (keyedSide, nSide) =
        Ingest.withScalableKeyCounted(content.select(col(cName)), "_row")
      if (nSide != nBinding)
        throw new IllegalArgumentException(
          s"side stream '${ss.file}' has $nSide rows but the binding table has $nBinding")
      acc.join(keyedSide, "_row")
    }
    widened.drop("_row")
  }

  /** Sink-side record of the S5 request's stream roles (survives a server
    * restart between serialize and deserialize, like the sink itself). */
  private def streamsMetaPath = s"$sinkDir/$sinkName.streams.json"

  private def writeStreamsMeta(ins: Seq[String], outs: Seq[String]): Unit = {
    val json = JObject("input" -> JArray(ins.map(JString(_)).toList),
      "output" -> JArray(outs.map(JString(_)).toList))
    new java.io.File(sinkDir).mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(streamsMetaPath),
      JsonMethods.compact(JsonMethods.render(json)))
  }

  private def readStreamsMeta(): Option[(Seq[String], Seq[String])] = {
    val p = java.nio.file.Paths.get(streamsMetaPath)
    if (!java.nio.file.Files.exists(p)) None
    else JsonMethods.parseOpt(java.nio.file.Files.readString(p)).map { j =>
      def names(f: String) = j \ f match {
        case JArray(xs) => xs.collect { case JString(s) => s }
        case _          => Nil
      }
      (names("input"), names("output"))
    }
  }

  /** The deserialize job: D1 open + stats, D2 shapes, D3 batch stream,
    * then the M1 fit — the reference trains its Keras MIMO model here
    * (`server.py:207-210` → `tests/keras_mimo.py:17-67`); ours is the
    * deterministic JVM twin ([[graft.ml.MimoTrainer]]): same topology
    * (flatten → concat → sigmoid Dense per output), same MSE/Adam loss,
    * driven by the same `steps_per_epoch = n_samples // batch_size`
    * generator contract. The epoch-drain count check runs first so a
    * short stream fails loudly before any weight update. */
  private def runTrainingHandOff(batchSize: Int, epochs: Int): Unit =
    try {
      val df = spark.read.parquet(s"$sinkDir/$sinkName.parquet")
      // S5 datasets carry their request-declared stream roles in the
      // sink metadata; dir-layout datasets use the slabel convention.
      val (inputCols, outputCols) = readStreamsMeta() match {
        case Some((ins, outs)) =>
          (ins.map(_ + "_content"), outs.map(_ + "_content"))
        case None =>
          (df.columns.filter(c => c != "key" && c != "slabel").toSeq, Seq("slabel"))
      }
      val export = BatchExport(df, "key", inputCols, outputCols, batchSize)
      try {
        lastReport = None // a stale curve must not describe this run
        lastShapes = export.shapes
        // distributed row-count guard on the pinned epoch view — NOT a
        // driver drain: shipping every row through toLocalIterator just
        // to count it doubled time-to-first-weight-update
        val n = export.epochRows
        if (n != export.nBatches * batchSize)
          throw new IllegalStateException(
            s"epoch view holds $n of ${export.nBatches * batchSize} rows")
        val trainer = new graft.ml.MimoTrainer(inputCols, outputCols, epochs)
        lastReport = Some(trainer.fit(export.batches(), export.nBatches))
        state = Trained
      } finally export.release() // drop the pinned epoch layout
    } catch {
      case e: Exception => state = Failed(s"train: ${e.getMessage}")
    }
}

object ControlPlane {
  /** A non-image S5 stream: `numeric` (csv of per-record vectors, the
    * reference `readNumeric`) or `text`, read from its own `file` and
    * aligned with binding rows POSITIONALLY — the reference's queue
    * workers pair record i with row i (`serialize.py:583-612`). */
  private[service] final case class SideStream(name: String, file: String,
                                               numeric: Boolean, textCol: Option[String])

  sealed trait State
  case object Idle extends State
  case object Serializing extends State
  case object Serialized extends State
  case object Training extends State
  case object Trained extends State
  final case class Failed(why: String) extends State
}
