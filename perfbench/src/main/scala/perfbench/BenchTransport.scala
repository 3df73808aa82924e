package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import graft.source.{DayTransport, RestFetch}

/** Serves the generator's grouped-daily payloads to the program's REST
  * source. Spark instantiates it by class name on the executor, which in
  * `local[n]` is this JVM, so it is configured through system properties:
  * `perfbench.payloadDir` holds one `<date>.json` per trading date (a date
  * without a file is a weekend or holiday and gets an empty payload), and
  * `perfbench.transportDelayMs` adds a fixed delay per fetch for the
  * workload-separation self-check.
  */
class BenchTransport extends DayTransport {
  override def fetch(date: String): RestFetch.Response = {
    val delay = sys.props.getOrElse("perfbench.transportDelayMs", "0").toLong
    if (delay > 0) Thread.sleep(delay)
    val f = Paths.get(sys.props("perfbench.payloadDir"), s"$date.json")
    if (!Files.exists(f)) RestFetch.Response(200, """{"queryCount":0,"resultsCount":0}""")
    else {
      val bytes = Files.readAllBytes(f)
      BenchTransport.bytesServed.addAndGet(bytes.length.toLong)
      RestFetch.Response(200, new String(bytes, StandardCharsets.UTF_8))
    }
  }
}

object BenchTransport {
  val bytesServed = new AtomicLong
}
