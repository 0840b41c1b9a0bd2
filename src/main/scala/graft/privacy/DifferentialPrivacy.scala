package graft.privacy

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Differential-privacy aggregation — the FOURTH clean-room primitive
  * (BigQuery analysis rules' `differential_privacy_policy`, next to the
  * aggregation threshold q22, column masking q167 and join restriction
  * q168): published group counts carry calibrated Laplace noise, so no
  * single row's presence is distinguishable beyond the ε budget, and a
  * per-view PRIVACY BUDGET ledger stops queries once their summed ε
  * exhausts it (the part of DP that is operational, not statistical: an
  * analyst who can re-run a noised query forever averages the noise away,
  * so the ledger — not the noise — is what makes the guarantee hold).
  *
  * Noise: Laplace(b = sensitivity/ε) via the inverse CDF,
  * `x = −b · sgn(u−½) · ln(1 − 2|u−½|)`, with `u` drawn DETERMINISTICALLY
  * from the group key (md5 → 15 hex chars → int64 → e6-grid uniform in
  * (0,1)). Determinism is a property of THIS engine's test harness — it
  * makes the noise replayable by an independent engine (the q170 oracle
  * replays hash → uniform → Laplace in DuckDB text) and the specs exact;
  * a production deployment would key the hash on a per-release secret
  * salt (same machinery, unpredictable to the analyst — the `seed`
  * argument), never re-drawing per query, because re-drawn noise averages
  * away exactly like re-run queries do.
  *
  * Scale shape: noise is one scalar expression per OUTPUT GROUP, appended
  * after the ordinary partial/final count aggregation — zero extra
  * shuffles, zero per-row cost. The budget ledger is control-plane state:
  * the durable form journals spend next to the data it guards (the same
  * object-not-session binding ViewAcl/PolicyCatalog use for WHO/HOW — see
  * `/root/reference/sql/sp_demo_cleanroom.sql:51-57`, where policy lives
  * on the durable object), so a session restart cannot reset it; the
  * in-memory form exists for single-session analysis only and says so. */
object DifferentialPrivacy {

  /** Per-view ε ledger. `charge` is called by every DP read BEFORE any
    * noised row is released; once the total would exceed the budget the
    * query is REJECTED — fail-closed, like the sibling policies — and a
    * rejected charge never spends (the ledger is unchanged, so legitimate
    * remaining budget is not burned by denials). */
  sealed trait DpBudget {
    def totalEpsilon: Double
    def spentEpsilon: Double
    final def remaining: Double = totalEpsilon - spentEpsilon
    def charge(epsilon: Double): Unit

    protected final def rejectIfExhausted(spent: Double, epsilon: Double): Unit = {
      require(epsilon > 0, "per-query epsilon must be positive")
      if (spent + epsilon > totalEpsilon + 1e-12)
        throw new PolicyViolationException(
          f"privacy budget exhausted: spent ε=$spent%.3f of ${totalEpsilon}%.3f, " +
            f"query needs ε=$epsilon%.3f — further reads of this view are not allowed " +
            "(re-running a noised query re-spends budget; averaging re-runs would " +
            "strip the noise)")
    }
  }

  object DpBudget {
    /** Session-memory ledger: dies with the process. ONLY safe when the
      * view itself dies with the session (a temp view over session-scoped
      * data) — for anything durable, a restart would reset the spend and
      * an analyst could average re-runs across restarts, exactly the
      * attack the ledger exists to stop. Use [[durable]] for those. */
    def inMemory(totalEpsilon: Double): DpBudget = new MemoryDpBudget(totalEpsilon)

    /** Durable ledger journaled at `dir/epsilon-ledger`: spend survives
      * process restart, is shared by every ledger instance opened on the
      * same dir (cross-process via an exclusive file lock around each
      * read-check-append), and is stamped with the budget total at
      * creation — reopening with a DIFFERENT total fails closed rather
      * than silently re-basing the guarantee. `dir` is a local path or a
      * `file:` URI; any other scheme throws `IllegalArgumentException`, as
      * the lock is a local file lock. */
    def durable(dir: String, totalEpsilon: Double): DpBudget =
      new DurableDpBudget(dir, totalEpsilon)
  }

  private final class MemoryDpBudget(val totalEpsilon: Double) extends DpBudget {
    require(totalEpsilon > 0, "total epsilon budget must be positive")
    private var spent = 0.0
    def spentEpsilon: Double = synchronized(spent)
    def charge(epsilon: Double): Unit = synchronized {
      rejectIfExhausted(spent, epsilon)
      spent += epsilon
    }
  }

  private object DurableDpBudget {
    private val localLocks =
      new java.util.concurrent.ConcurrentHashMap[String, Object]()
    def lockFor(path: java.nio.file.Path): Object =
      localLocks.computeIfAbsent(path.toAbsolutePath.toString, _ => new Object)
  }

  /** Append-only journal: line 1 `total=<ε>`, one `spent=<ε>` line per
    * granted charge, each append fsynced before the charge returns — the
    * spend is on disk before any noised row can be released. Every
    * operation (including reads) re-reads the journal under the file
    * lock, so concurrent sessions and restarts all see one ledger. */
  private final class DurableDpBudget(dir: String, val totalEpsilon: Double)
      extends DpBudget {
    require(totalEpsilon > 0, "total epsilon budget must be positive")

    import java.nio.ByteBuffer
    import java.nio.channels.FileChannel
    import java.nio.charset.StandardCharsets.UTF_8
    import java.nio.file.{Files, Paths, StandardOpenOption => O}

    // the journal needs a local file for its lock: a plain path or a
    // `file:` URI, never a remote scheme
    private val path = {
      val uri = new org.apache.hadoop.fs.Path(dir).toUri
      if (uri.getScheme != null && uri.getScheme != "file")
        throw new IllegalArgumentException(s"privacy-budget ledger dir '$dir' has scheme " +
          s"'${uri.getScheme}': its file lock needs a local path or a file: URI")
      val d = Paths.get(uri.getPath)
      Files.createDirectories(d)
      d.resolve("epsilon-ledger")
    }

    // the file lock guards cross-PROCESS; within one JVM an overlapping
    // lock attempt throws (OverlappingFileLockException — FileLocks are
    // held on behalf of the whole JVM), so local contenders serialize on
    // a per-path in-process mutex first
    private val localLock = DurableDpBudget.lockFor(path)

    private def withLock[A](f: FileChannel => A): A = localLock.synchronized {
      val ch = FileChannel.open(path, O.READ, O.WRITE, O.CREATE)
      try { val lk = ch.lock(); try f(ch) finally lk.release() }
      finally ch.close()
    }

    private def readLines(ch: FileChannel): Seq[String] = {
      val buf = ByteBuffer.allocate(ch.size().toInt)
      var read = 0
      while (read >= 0 && buf.hasRemaining) read = ch.read(buf, buf.position().toLong)
      new String(buf.array(), 0, buf.position(), UTF_8)
        .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    }

    private def spentIn(lines: Seq[String]): Double =
      lines.collect { case l if l.startsWith("spent=") =>
        l.stripPrefix("spent=").toDouble }.sum

    private def append(ch: FileChannel, line: String): Unit = {
      ch.write(ByteBuffer.wrap((line + "\n").getBytes(UTF_8)), ch.size())
      ch.force(true)
    }

    // stamp-or-verify the total at open: a ledger created under one budget
    // must not be silently continued under another
    withLock { ch =>
      readLines(ch).find(_.startsWith("total=")) match {
        case None => append(ch, s"total=$totalEpsilon")
        case Some(l) =>
          val existing = l.stripPrefix("total=").toDouble
          if (existing != totalEpsilon)
            throw new PolicyViolationException(
              s"privacy-budget ledger at $path was created with total " +
                s"ε=$existing; refusing to reopen with ε=$totalEpsilon — " +
                "re-basing a budget would void the guarantee already spent against it")
      }
    }

    def spentEpsilon: Double = withLock(ch => spentIn(readLines(ch)))

    def charge(epsilon: Double): Unit = withLock { ch =>
      rejectIfExhausted(spentIn(readLines(ch)), epsilon)
      append(ch, s"spent=$epsilon")
    }
  }

  /** The deterministic e6-grid uniform for a group-key column: md5 of
    * (seed:key) → first 15 hex chars → int64 → `(h mod 10⁶ + ½) / 10⁶`.
    * 15 hex chars keep the parse inside int64 on both engines (the
    * established md5-grid idiom, q53/q90's discipline). */
  private def uniformE6(key: Column, seed: String): Column =
    (conv(substring(md5(concat(lit(seed), lit(":"), key)), 1, 15), 16, 10)
      .cast("long") % 1000000L + lit(0.5)) / lit(1000000.0)

  /** Laplace(b) noise via inverse CDF over [[uniformE6]] — one expression,
    * the identical operator tree the oracle states. */
  def laplaceNoise(key: Column, seed: String, b: Double): Column = {
    val u = uniformE6(key, seed)
    val centered = u - lit(0.5)
    -lit(b) * signum(centered) * log(lit(1.0) - lit(2.0) * abs(centered))
  }

  /** ε-DP noised count per group: `count(*) + Laplace(sensitivity/ε)`,
    * exported on the e2 grid (so the cross-engine hash can't hinge on a
    * float print format). `keyCol` must be a deterministic function of the
    * GROUP (one noise draw per group — drawing per row would sum n draws
    * and concentrate away). Charges `budget` if given. */
  def dpCount(grouped: DataFrame, keyCol: Column, epsilon: Double, seed: String,
              countCol: String = "n", sensitivity: Double = 1.0,
              budget: Option[DpBudget] = None): DataFrame = {
    budget.foreach(_.charge(epsilon))
    val b = sensitivity / epsilon
    grouped.withColumn("noisy_" + countCol + "_e2",
      floor((col(countCol) + laplaceNoise(keyCol, seed, b)) * 100 + lit(0.5))
        .cast("long"))
  }
}
