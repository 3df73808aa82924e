package graft.source

/** S1 connector resilience — retry with exponential backoff on transient
  * HTTP failures, mirroring the reference's requests session
  * (eod_data_downloader.py:16-18, 93-102): `API_TIMEOUT = 30 s`,
  * `MAX_RETRIES = 3`, `BACKOFF_FACTOR = 1`, retried statuses
  * 429/500/502/503/504, `raise_for_status()` after the final attempt.
  *
  * The transport is INJECTABLE (a plain `() => Response` closure), so the
  * policy is unit-testable offline. Its one caller is the REST connector's
  * partition reader ([[EodDsv2]]), which runs it once per trading date
  * around a [[DayTransport]]; a deployment's transport is an HTTP call with
  * the 30 s timeout.
  */
object RestFetch {

  final case class Response(status: Int, body: String)

  val MaxRetries = 3             // eod_data_downloader.py:18
  val BackoffFactor = 1.0        // eod_data_downloader.py:16 (urllib3 Retry)
  val TimeoutSeconds = 30        // eod_data_downloader.py:16
  val RetryStatuses: Set[Int] = Set(429, 500, 502, 503, 504) // :95-100

  /** urllib3-style retry loop: run `transport`; on a retryable status or an
    * exception, sleep `backoffFactor * 2^k` seconds (k = 0, 1, …) and retry,
    * up to `maxRetries` retries. A non-retryable status returns immediately;
    * an exhausted budget returns the last response or rethrows the last
    * exception.
    */
  def withRetry(transport: () => Response,
      maxRetries: Int = MaxRetries,
      backoffFactor: Double = BackoffFactor,
      retryOn: Set[Int] = RetryStatuses,
      sleeper: Long => Unit = Thread.sleep): Response = {
    var attempt = 0
    var last: Either[Throwable, Response] = Left(new IllegalStateException("no attempt"))
    while (attempt <= maxRetries) {
      last = try Right(transport())
      catch { case scala.util.control.NonFatal(e) => Left(e) }
      last match {
        case Right(r) if !retryOn(r.status) => return r
        case _ => // retryable status or transport failure
      }
      if (attempt < maxRetries)
        sleeper((backoffFactor * math.pow(2, attempt.toDouble) * 1000).toLong)
      attempt += 1
    }
    last.fold(throw _, identity)
  }
}
