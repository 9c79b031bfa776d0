package graft.util

import scala.collection.mutable
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.config.GraftConfig

/** Pure-JVM specs for retry, circuit breaker, monitoring and config —
  * ports of the reference's `test_retry.py` / `test_monitoring.py` /
  * `test_config.py` behaviors.
  */
class ServicesSpec extends AnyFunSuite {

  // ----------------------------------------------------------------- retry

  private def noSleepPolicy(maxRetries: Int, retryOn: Throwable => Boolean = {
    case _: NonRetryableError => false
    case _ => true
  }) = RetryPolicy(maxRetries = maxRetries, retryOn = retryOn, sleep = _ => ())

  test("retry succeeds after transient failures") {
    var calls = 0
    val got = noSleepPolicy(3) {
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      42
    }
    assert(got == 42 && calls == 3)
  }

  test("retry gives up after maxRetries and rethrows the last error") {
    var calls = 0
    val e = intercept[RuntimeException] {
      noSleepPolicy(2) { calls += 1; throw new RuntimeException(s"fail$calls") }
    }
    assert(calls == 3 && e.getMessage == "fail3")
  }

  test("non-retryable errors propagate immediately") {
    var calls = 0
    intercept[NonRetryableError] {
      noSleepPolicy(5) { calls += 1; throw new NonRetryableError("fatal") }
    }
    assert(calls == 1)
  }

  test("backoff doubles and caps at maxDelay") {
    val p = RetryPolicy(initialDelay = 1.second, backoffFactor = 2.0, maxDelay = 3.seconds)
    assert(p.delayFor(0) == 1.second)
    assert(p.delayFor(1) == 2.seconds)
    assert(p.delayFor(2) == 3.seconds) // capped
    assert(p.delayFor(10) == 3.seconds)
  }

  test("onRetry callback sees attempt number and delay") {
    val seen = mutable.Buffer.empty[Int]
    val p = RetryPolicy(maxRetries = 2, sleep = _ => (),
      onRetry = (attempt, _, _) => seen += attempt)
    intercept[RuntimeException](p { throw new RuntimeException("x") })
    assert(seen.toSeq == Seq(1, 2))
  }

  // --------------------------------------------------------------- breaker

  private class FakeClock { var now = 0L; def apply(): Long = now }

  test("breaker opens after threshold failures, rejects, half-opens, closes") {
    val clock = new FakeClock
    val cb = new CircuitBreaker(failureThreshold = 2, resetTimeoutMs = 1000,
      halfOpenSuccesses = 2, clock = () => clock.now)
    def fail(): Unit = intercept[RuntimeException](cb { throw new RuntimeException("x") })
    assert(cb.state == cb.Closed)
    fail(); fail()
    assert(cb.state == cb.Open)
    intercept[CircuitBreakerOpenError](cb { 1 })
    clock.now += 1001
    assert(cb.state == cb.HalfOpen)
    assert(cb { 1 } == 1)
    assert(cb.state == cb.HalfOpen) // needs 2 successes
    assert(cb { 2 } == 2)
    assert(cb.state == cb.Closed)
  }

  test("half-open failure re-opens immediately") {
    val clock = new FakeClock
    val cb = new CircuitBreaker(failureThreshold = 1, resetTimeoutMs = 1000,
      clock = () => clock.now)
    intercept[RuntimeException](cb { throw new RuntimeException("x") })
    assert(cb.state == cb.Open)
    clock.now += 1001
    assert(cb.state == cb.HalfOpen)
    intercept[RuntimeException](cb { throw new RuntimeException("y") })
    assert(cb.state == cb.Open)
  }

  test("breaker stats count calls, failures, rejections") {
    val cb = new CircuitBreaker(failureThreshold = 1, resetTimeoutMs = 60000)
    intercept[RuntimeException](cb { throw new RuntimeException("x") })
    intercept[CircuitBreakerOpenError](cb { 1 })
    val s = cb.stats
    assert(s("total_calls") == 1 && s("total_failures") == 1 && s("total_rejections") == 1)
  }

  // ------------------------------------------------------------ monitoring

  test("batch metrics math, including empty batch") {
    val empty = BatchMetrics(1, 0, 0, 0, 1.0)
    assert(empty.validityRate == 100.0 && empty.errorRate == 0.0)
    val m = BatchMetrics(2, 100, 95, 5, 2.0)
    assert(m.validityRate == 95.0 && m.throughput == 50.0 && m.errorRate == 5.0)
  }

  test("monitor alerts on low validity and high latency; escalates after 3 bad batches") {
    val h = new BufferingAlertHandler
    val mon = new PipelineMonitor(minValidityRate = 95.0, maxLatencySec = 10.0,
      escalateAfter = 3, handlers = Seq(h))
    mon.record(BatchMetrics(1, 100, 90, 10, 1.0)) // validity 90 < 95 → warning
    mon.record(BatchMetrics(2, 100, 90, 10, 11.0)) // validity + latency → warnings
    val third = mon.record(BatchMetrics(3, 100, 90, 10, 1.0)) // 3rd consecutive → error
    assert(h.alerts.nonEmpty)
    assert(third.forall(_.level == AlertLevel.Error))
  }

  test("monitor flags error-type concentration >= 10%") {
    val mon = new PipelineMonitor(handlers = Seq.empty)
    val alerts = mon.record(
      BatchMetrics(1, 100, 80, 20, 1.0, errorCounts = Map("null_value" -> 15, "rare" -> 5)))
    assert(alerts.exists(_.message.contains("null_value")))
    assert(!alerts.exists(_.message.contains("'rare'")))
  }

  test("health: NO_DATA → HEALTHY → DEGRADED transitions") {
    val mon = new PipelineMonitor(windowSize = 2, handlers = Seq.empty)
    assert(mon.health == Health.NoData)
    mon.record(BatchMetrics(1, 100, 100, 0, 1.0))
    assert(mon.health == Health.Healthy)
    mon.record(BatchMetrics(2, 100, 0, 100, 1.0))
    mon.record(BatchMetrics(3, 100, 0, 100, 1.0)) // window of 2 → all bad
    assert(mon.health == Health.Degraded)
  }

  test("rolling window is bounded") {
    val mon = new PipelineMonitor(windowSize = 3, handlers = Seq.empty)
    (1 to 10).foreach(i => mon.record(BatchMetrics(i, 10, 10, 0, 0.1)))
    assert(mon.windowSnapshot.map(_.batchId) == Seq(8L, 9L, 10L))
  }

  // ---------------------------------------------------------------- config

  test("jdbc url and properties format") {
    val db = graft.config.DatabaseConfig(host = "h", port = 5, database = "d")
    assert(db.jdbcUrl == "jdbc:postgresql://h:5/d")
    assert(db.properties("batchsize") == "5000")
    assert(db.properties("isolationLevel") == "READ_COMMITTED")
  }

  test("config validation rejects bad values") {
    intercept[IllegalArgumentException](graft.config.DatabaseConfig(port = -1).validate())
    intercept[IllegalArgumentException](graft.config.RetryConfig(backoffFactor = 0.5).validate())
    intercept[IllegalArgumentException](graft.config.StreamingConfig(triggerSeconds = 0).validate())
  }

  test("ParJobs rethrows the first failure only after every task has finished") {
    val siblingDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException](ParJobs.run(
      () => throw new IllegalStateException("first"),
      () => { Thread.sleep(300); siblingDone.set(true) }))
    assert(e.getMessage == "first")
    assert(siblingDone.get)
  }

  test("config singleton is stable until reset") {
    GraftConfig.reset()
    val a = GraftConfig.get
    assert(GraftConfig.get eq a)
    GraftConfig.reset()
  }
}
