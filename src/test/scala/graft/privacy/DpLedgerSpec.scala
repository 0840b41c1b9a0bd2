package graft.privacy

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.privacy.DifferentialPrivacy.DpBudget

/** The DURABLE ε ledger's operational guarantees (the in-memory ledger's
  * arithmetic is pinned by DifferentialPrivacySpec; this spec pins what
  * durability adds). The attack the durable form closes: with a
  * session-memory ledger, a restart resets spent ε, so an analyst re-runs
  * the same noised query across restarts and averages the noise away. Here
  * the spend is journaled (fsynced) BEFORE any noised row is released, the
  * journal lives with the guarded view's dir — not the session — and a
  * fresh process (simulated by a fresh ledger instance over the same dir:
  * every operation re-reads the journal under the file lock, holding no
  * cross-call state) sees every ε already spent. */
class DpLedgerSpec extends AnyFunSuite {

  private def freshDir(): String =
    Files.createTempDirectory("graft-dp-ledger").toString

  test("a restart retains spent budget (reopen sees the journal)") {
    val dir = freshDir()
    val first = DpBudget.durable(dir, 2.0)
    first.charge(1.0)
    assert(math.abs(first.spentEpsilon - 1.0) < 1e-12)

    // "restart": a brand-new ledger instance over the same dir — no state
    // is shared in-process, the journal is the only carrier
    val reopened = DpBudget.durable(dir, 2.0)
    assert(math.abs(reopened.spentEpsilon - 1.0) < 1e-12)
    reopened.charge(1.0)

    // third ε=1 read across yet another restart: rejected
    val third = DpBudget.durable(dir, 2.0)
    val e = intercept[PolicyViolationException](third.charge(1.0))
    assert(e.getMessage.contains("budget exhausted"))
  }

  test("a rejected charge never spends (the journal is unchanged)") {
    val dir = freshDir()
    val ledger = DpBudget.durable(dir, 1.5)
    ledger.charge(1.0)
    intercept[PolicyViolationException](ledger.charge(1.0))
    // the rejection burned nothing — in this instance and across a reopen
    assert(math.abs(ledger.remaining - 0.5) < 1e-12)
    assert(math.abs(DpBudget.durable(dir, 1.5).remaining - 0.5) < 1e-12)
    // a query within the remainder still passes
    ledger.charge(0.5)
    assert(DpBudget.durable(dir, 1.5).remaining < 1e-12)
  }

  test("reopening with a different total fails closed") {
    val dir = freshDir()
    DpBudget.durable(dir, 2.0).charge(0.5)
    val e = intercept[PolicyViolationException](DpBudget.durable(dir, 3.0))
    assert(e.getMessage.contains("refusing to reopen"))
    // and the original budget is untouched by the failed reopen
    assert(math.abs(DpBudget.durable(dir, 2.0).spentEpsilon - 0.5) < 1e-12)
  }

  test("two live instances over one dir share a single budget") {
    val dir = freshDir()
    val a = DpBudget.durable(dir, 2.0)
    val b = DpBudget.durable(dir, 2.0)
    a.charge(1.0)
    // b observes a's spend without any in-process sharing
    assert(math.abs(b.spentEpsilon - 1.0) < 1e-12)
    b.charge(1.0)
    intercept[PolicyViolationException](a.charge(0.1))
  }

  test("concurrent charges serialize: exactly the budget is granted, never more") {
    val dir = freshDir()
    val total = 2.0
    val eps = 0.1
    val granted = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 4).map { _ =>
      new Thread(() => {
        val ledger = DpBudget.durable(dir, total)
        (1 to 10).foreach { _ =>
          try { ledger.charge(eps); granted.incrementAndGet() }
          catch { case _: PolicyViolationException => () }
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    // 40 attempted * 0.1 = 4.0 requested against a 2.0 budget: exactly 20 grants
    assert(granted.get() === 20)
    assert(DpBudget.durable(dir, total).remaining < 1e-9)
  }

  test("invalid construction and charges are rejected") {
    intercept[IllegalArgumentException](DpBudget.durable(freshDir(), 0.0))
    val ledger = DpBudget.durable(freshDir(), 1.0)
    intercept[IllegalArgumentException](ledger.charge(-1.0))
    intercept[IllegalArgumentException](ledger.charge(0.0))
    assert(math.abs(ledger.remaining - 1.0) < 1e-12) // none of those spent
  }

  test("the journal is human-auditable: total header + one line per grant") {
    val dir = freshDir()
    val ledger = DpBudget.durable(dir, 2.0)
    ledger.charge(0.25)
    ledger.charge(0.75)
    val lines = Files.readAllLines(Paths.get(dir, "epsilon-ledger"))
    assert(lines.get(0) === "total=2.0")
    assert(lines.get(1) === "spent=0.25")
    assert(lines.get(2) === "spent=0.75")
  }

  test("a ledger given as a file: URI journals at that local path") {
    val dir = freshDir()
    DpBudget.durable(Paths.get(dir).toUri.toString, 2.0).charge(0.5)
    assert(Files.exists(Paths.get(dir, "epsilon-ledger")))
    assert(math.abs(DpBudget.durable(dir, 2.0).spentEpsilon - 0.5) < 1e-12)
  }

  test("a ledger dir of a non-local scheme is rejected") {
    val e = intercept[IllegalArgumentException](DpBudget.durable("hdfs://namenode/ledger", 2.0))
    assert(e.getMessage.contains("'hdfs'"), e.getMessage)
  }
}
