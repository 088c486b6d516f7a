package perfbench

/** Epoch seconds from a monotonic clock: stage times from Spark are epoch
  * milliseconds, so spans use the same origin at finer resolution. */
object Clock {
  private val epoch0 = System.currentTimeMillis() / 1e3
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e9
}

/** JSON text for the harness's HTTP requests, result and span files. */
object Json {
  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
  def obj(kv: (String, Any)*): String =
    org.json4s.jackson.Serialization.write(scala.collection.immutable.ListMap(kv: _*))
}
