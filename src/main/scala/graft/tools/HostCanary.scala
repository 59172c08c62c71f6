package graft.tools

/** Dev probe: a FIXED pure-JVM workload (no Spark, no IO) timed
  * single-threaded and at 32 threads, so a bench window's host speed
  * is a recorded number instead of an inference from binary A/Bs.
  * Run it immediately before/after each bench window; if the canary
  * moves, the window moved — adjudication done. Since r19 the Bench
  * main itself runs [[measure]] once before warm-up and once after
  * the timed reps and writes both pairs INTO the bench JSON
  * (`canary_pre`/`canary_post` — verdict r18 ask #3), so every
  * bench window record (history/bench/bench_full_rN_wK.json) is
  * self-adjudicating. The workload is a xorshift-mix loop sized ~1s
  * per leg on a healthy host; results print as Mops/s (higher =
  * faster host).
  * Usage: runMain graft.tools.HostCanary [reps]
  */
object HostCanary {
  private def mixLoop(n: Long, seed: Long): Long = {
    var x = seed; var i = 0L
    while (i < n) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    x
  }

  /** One timed (single-thread Mops/s, x32 Mops/s, checksum) reading.
    * EVERY thread's loop result folds into the returned checksum —
    * discarding them would let the JIT dead-code-eliminate the
    * multi-thread work and silently invalidate the x32 number (r18
    * ADVICE); callers print or record the checksum to keep the work
    * observably live. */
  private[graft] def measure(rep: Int,
      perThread: Long = 400000000L): (Double, Double, Long) = {
    val t0 = System.nanoTime()
    val s1 = mixLoop(perThread, 42L + rep)
    val single = perThread.toDouble / (System.nanoTime() - t0) * 1e3
    val threads = 32
    val acc = new java.util.concurrent.atomic.AtomicLong(s1)
    val t1 = System.nanoTime()
    val pool = (0 until threads).map { t =>
      val th = new Thread(() => {
        acc.getAndAdd(mixLoop(perThread, 1000L * t + rep)); ()
      })
      th.start(); th
    }
    pool.foreach(_.join())
    val multi =
      perThread.toDouble * threads / (System.nanoTime() - t1) * 1e3
    (single, multi, acc.get())
  }

  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    // warm-up (result printed below so this loop is live too)
    val warm = mixLoop(100000000L, 42L)
    (1 to reps).foreach { r =>
      val (single, multi, sum) = measure(r)
      println(f"rep$r single=${single}%8.1f Mops/s  " +
        f"x32=${multi}%8.1f Mops/s  (checksum ${(sum ^ warm) & 0xff})")
    }
  }
}
