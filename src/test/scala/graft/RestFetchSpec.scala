package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.source.RestFetch
import graft.source.RestFetch.Response

/** S1 retry/backoff policy (eod_data_downloader.py:16-18, 93-102) against an
  * injected transport — no network in this container, none needed.
  */
class RestFetchSpec extends AnyFunSuite {

  private class Script(responses: Response*) {
    var calls = 0
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    def transport: () => Response = () => { calls += 1; responses(calls - 1) }
    def sleeper: Long => Unit = sleeps += _
  }

  test("retries 503s with exponential backoff, then succeeds") {
    val s = new Script(Response(503, ""), Response(503, ""), Response(200, "ok"))
    val r = RestFetch.withRetry(s.transport, sleeper = s.sleeper)
    assert(r === Response(200, "ok"))
    assert(s.calls === 3)
    assert(s.sleeps.toSeq === Seq(1000L, 2000L), "backoff_factor * 2^k seconds")
  }

  test("non-retryable status returns immediately (raise_for_status is the caller's)") {
    val s = new Script(Response(404, "not found"))
    assert(RestFetch.withRetry(s.transport, sleeper = s.sleeper).status === 404)
    assert(s.calls === 1 && s.sleeps.isEmpty)
  }

  test("budget exhausted on persistent 500s: last response surfaces") {
    val s = new Script(Seq.fill(4)(Response(500, "")): _*)
    assert(RestFetch.withRetry(s.transport, sleeper = s.sleeper).status === 500)
    assert(s.calls === 4, "1 attempt + MAX_RETRIES = 3")
  }

  test("transport exceptions are retried and rethrown when persistent") {
    var calls = 0
    val boom: () => Response = () => { calls += 1; throw new java.io.IOException("reset") }
    val e = intercept[java.io.IOException](
      RestFetch.withRetry(boom, sleeper = _ => ()))
    assert(e.getMessage === "reset" && calls === 4)
  }
}
