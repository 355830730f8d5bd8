package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.{CommitLog, DeletionVectors, Occ}

/** Optimistic concurrency (`Occ`): appends never conflict and their
  * data writes overlap (only the ~ms id-claim serializes); a merge's
  * commit section validates its snapshot and RETRIES on interleaved
  * commits — no lost update in either interleaving; staged bytes are
  * invisible until the commit section and conflict losers leave only
  * aged-sweepable stage dirs. */
class ConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed single-batch lake: k unique 0..199, v = 2k. */
  private def mkLake(): String = {
    val lake = Files.createTempDirectory("graft_occ_").toString + "/lake"
    val f = fs(lake)
    (0 until 200).map(k => (k, 2L * k)).toDF("k", "v")
      .coalesce(1).write.parquet(lake)
    CommitLog.commit(f, lake, 0L,
      CommitLog.dataFileNames(f, lake).toSeq.sorted)
    lake
  }

  test("racing OCC appenders both land with exact file attribution: " +
    "distinct batch ids, disjoint manifests, no lost rows") {
    val lake = mkLake()
    val f = fs(lake)
    val a = Future(Occ.append(spark, lake,
      (1000 until 1100).map(k => (k, 1L)).toDF("k", "v"), numFiles = 2))
    val b = Future(Occ.append(spark, lake,
      (2000 until 2150).map(k => (k, 2L)).toDF("k", "v"), numFiles = 3))
    val (idA, idB) = (Await.result(a, 120.seconds),
      Await.result(b, 120.seconds))
    assert(idA != idB && idA > 0 && idB > 0, s"ids $idA / $idB")
    // manifests are disjoint and complete — a before/after diff under
    // racing writers would have cross-attributed files
    val manA = CommitLog.changedNames(f, lake, idA - 1, idA)
    val manB = CommitLog.changedNames(f, lake, idB - 1, idB)
    assert((manA & manB).isEmpty && manA.size == 2 && manB.size == 3)
    val got = graft.streaming.LayoutSink.readCommitted(spark, lake)
    assert(got.count() == 450L)
    assert(got.filter(col("k") >= 1000 && col("k") < 1100).count() == 100)
    assert(got.filter(col("k") >= 2000).count() == 150)
    // no stage debris survives a clean commit
    assert(!f.listStatus(new Path(lake)).exists(
      _.getPath.getName.startsWith(".occ-")))
  }

  test("append racing an OCC merge, both orders: the append always " +
    "lands, the merge retries over an interleaved commit — no lost " +
    "update") {
    // order A: the append commits INSIDE the merge's window (between
    // its snapshot and its commit section) via the beforeCommit hook —
    // deterministic conflict, exactly one retry
    val lake = mkLake()
    val injected = new AtomicBoolean(false)
    val (matched, appended) = Occ.mergeMor(spark, lake,
      (0 until 50).map(k => (k, -1L)).toDF("k", "v"), Seq("k"),
      beforeCommit = () => {
        if (injected.compareAndSet(false, true)) {
          val id = Occ.append(spark, lake,
            (3000 until 3050).map(k => (k, 3L)).toDF("k", "v"))
          assert(id > 0)
        }
      })
    assert(matched == 50L && appended == 50L)
    val got = DeletionVectors.readMor(spark, lake)
    assert(got.count() == 250L) // 200 + 50 appended (merge replaces in place)
    assert(got.filter(col("k") < 50 && col("v") =!= -1L).count() == 0L,
      "the merge's replacements must all be live")
    assert(got.filter(col("k") >= 3000).count() == 50L,
      "the interleaved append must not be lost")

    // order B: the merge commits first, the append lands on top
    val lake2 = mkLake()
    val (m2, a2) = Occ.mergeMor(spark, lake2,
      (0 until 50).map(k => (k, -1L)).toDF("k", "v"), Seq("k"))
    assert(m2 == 50L && a2 == 50L)
    assert(Occ.append(spark, lake2,
      (3000 until 3050).map(k => (k, 3L)).toDF("k", "v")) > 0)
    val got2 = DeletionVectors.readMor(spark, lake2)
    assert(got2.count() == 250L)
    assert(got2.filter(col("k") < 50 && col("v") =!= -1L).count() == 0L)
    assert(got2.filter(col("k") >= 3000).count() == 50L)
  }

  test("two merges, one interleaved into the other's window: the " +
    "loser re-prepares on the winner's snapshot — both apply, " +
    "including on overlapping keys") {
    val lake = mkLake()
    val injected = new AtomicBoolean(false)
    // the inner (locked) merge wins the window; the outer OCC merge
    // must retry and re-discover against the POST-inner view, or its
    // vectors would point at rows the inner merge already replaced
    val (m, a) = Occ.mergeMor(spark, lake,
      (0 until 30).map(k => (k, -7L)).toDF("k", "v"), Seq("k"),
      beforeCommit = () => {
        if (injected.compareAndSet(false, true)) {
          DeletionVectors.mergeMor(spark, lake,
            (20 until 60).map(k => (k, -9L)).toDF("k", "v"), Seq("k"))
        }
      })
    assert(m == 30L && a == 30L)
    val got = DeletionVectors.readMor(spark, lake)
    assert(got.count() == 200L)
    // outer merge applied LAST: keys 0..29 end at -7; the inner
    // merge's non-overlapping keys 30..59 end at -9
    assert(got.filter(col("k") < 30 && col("v") =!= -7L).count() == 0L)
    assert(got.filter(col("k") >= 30 && col("k") < 60 &&
      col("v") =!= -9L).count() == 0L)
    assert(got.filter(col("k") >= 60 && col("v") =!= col("k") * 2)
      .count() == 0L)
  }

  test("a crashed preparation's stage dir is invisible to readers " +
    "and aged into the sweep; empty input is a published no-op") {
    val lake = mkLake()
    val f = fs(lake)
    // fake a crashed prepare: a stage dir with a parquet inside
    val stage = s"$lake/.occ-crashed"
    Seq((9999, 9L)).toDF("k", "v").write.parquet(s"$stage/data")
    assert(graft.streaming.LayoutSink.readCommitted(spark, lake)
      .count() == 200L, "staged bytes must be invisible")
    assert(spark.read.parquet(lake).count() == 200L,
      "hidden dirs must not leak into a plain directory read")
    Occ.sweepStaleStages(f, lake, olderThanMs = 0L)
    assert(!f.exists(new Path(stage)), "aged stage must be swept")
    // empty input: no record published, id -1
    assert(Occ.append(spark, lake,
      Seq.empty[(Int, Long)].toDF("k", "v")) == -1L)
    assert(CommitLog.maxCommittedId(f, lake) == 0L)
  }

  test("OCC delete racing an append: the delete retries over the " +
    "interleaved commit and marks exactly its predicate's rows") {
    val lake = mkLake()
    val injected = new AtomicBoolean(false)
    val n = Occ.deleteMor(spark, lake, "k % 4 = 1",
      beforeCommit = () => {
        if (injected.compareAndSet(false, true)) {
          // the appended rows INCLUDE predicate matches — the retry's
          // re-scan must pick them up (a stale snapshot would miss
          // k = 4001)
          Occ.append(spark, lake,
            Seq((4000, 0L), (4001, 1L)).toDF("k", "v")): Unit
        }
      })
    assert(n == 51L, s"marked $n") // 50 base + the appended k=4001
    val got = DeletionVectors.readMor(spark, lake)
    assert(got.count() == 151L) // 200 - 50 + 2 - 1
    assert(got.filter(col("k") % 4 === 1).count() == 0L)
    // idempotent repeat publishes nothing
    assert(Occ.deleteMor(spark, lake, "k % 4 = 1") == 0L)
  }

  test("OCC update racing a merge: the update retries, applies to the " +
    "post-merge LIVE rows, and never updates dead rows") {
    val lake = mkLake()
    // seed 5 matching rows so the first attempt prepares a real stage
    DeletionVectors.mergeMor(spark, lake,
      (100 until 105).map(k => (k, -5L)).toDF("k", "v"), Seq("k"))
    val injected = new AtomicBoolean(false)
    // the injected (locked) merge replaces k < 20 with v = -100 INSIDE
    // the update's window: the retry must re-evaluate the predicate
    // over the post-merge live view — 20 fresh matches join the 5
    // seeded ones, and a stale snapshot would update only 5
    val n = Occ.updateMor(spark, lake, "v < 0",
      Map("v" -> "v - 1"),
      beforeCommit = () => {
        if (injected.compareAndSet(false, true)) {
          DeletionVectors.mergeMor(spark, lake,
            (0 until 20).map(k => (k, -100L)).toDF("k", "v"), Seq("k"))
        }
      })
    assert(n == 25L, s"updated $n")
    val got = DeletionVectors.readMor(spark, lake)
    assert(got.count() == 200L)
    assert(got.filter(col("k") < 20 && col("v") =!= -101L).count() == 0L)
    assert(got.filter(col("k") >= 100 && col("k") < 105 &&
      col("v") =!= -6L).count() == 0L)
    assert(got.filter((col("k") >= 20 && col("k") < 100 ||
      col("k") >= 105) && col("v") =!= col("k") * 2).count() == 0L)
    // idempotence of the POSITIONS: the updated rows are live, their
    // predecessors dead; a second disjoint update touches none of them
    assert(Occ.updateMor(spark, lake, "v > 999999",
      Map("v" -> "0")) == 0L)
  }

  test("Occ.append on a lake with pre-existing UNLOGGED files " +
    "grandfathers them into the bootstrap manifest — nothing becomes " +
    "a false orphan") {
    val dir = Files.createTempDirectory("graft_occ_boot_").toString
    val lake = s"$dir/lake"
    val f = fs(lake)
    (0 until 100).map(k => (k, 1L)).toDF("k", "v").coalesce(1)
      .write.parquet(lake) // plain data, no log
    val id = Occ.append(spark, lake,
      (1000 until 1050).map(k => (k, 2L)).toDF("k", "v"))
    assert(id == 0L)
    val got = graft.streaming.LayoutSink.readCommitted(spark, lake)
    assert(got.count() == 150L, "pre-existing rows must stay committed")
    // the grandfathered files survive an aggressive vacuum
    assert(CommitLog.vacuum(f, lake, olderThanMs = 0L).isEmpty)
    assert(graft.streaming.LayoutSink.readCommitted(spark, lake)
      .count() == 150L)
  }

  test("Occ.append refuses an epoch-owned lake (the sink's id space); " +
    "DML verbs, which publish at the max, still compose") {
    val dir = Files.createTempDirectory("graft_occ_epoch_").toString
    val lake = s"$dir/lake"
    val f = fs(lake)
    // one sink batch claims the manifest-id space for epoch replay
    graft.streaming.LayoutSink.processBatch(
      (0 until 100).map(k => (k, 2L * k)).toDF("k", "v"), batchId = 0L,
      lake, s"$dir/idx", Seq("k"), bits = 10, filesPerBatch = 2,
      curve = "morton")
    assert(CommitLog.epochOwner(f, lake).contains("LayoutSink"))
    val e = intercept[IllegalStateException] {
      Occ.append(spark, lake, Seq((5000, 5L)).toDF("k", "v"))
    }
    assert(e.getMessage.contains("epoch"), e.getMessage)
    // nothing was staged-then-published: the committed view is intact
    assert(graft.streaming.LayoutSink.readCommitted(spark, lake)
      .count() == 100L)
    // the sink's NEXT epoch replays cleanly — no skipped batch
    graft.streaming.LayoutSink.processBatch(
      Seq((9000, 9L)).toDF("k", "v"), batchId = 1L,
      lake, s"$dir/idx", Seq("k"), bits = 10, filesPerBatch = 1,
      curve = "morton")
    assert(graft.streaming.LayoutSink.readCommitted(spark, lake)
      .count() == 101L)
    // a MoR merge publishes AT the max id (no new id claim) — allowed
    val (m, a) = Occ.mergeMor(spark, lake,
      Seq((0, -1L)).toDF("k", "v"), Seq("k"))
    assert(m == 1L && a == 1L)
    // a sink that claims BETWEEN an append's prepare and its commit
    // section is caught by the in-lock re-check, not just the entry one
    val lake2 = mkLake()
    val e2 = intercept[IllegalStateException] {
      Occ.append(spark, lake2, Seq((1, 1L)).toDF("k", "v"),
        beforeCommit = () =>
          CommitLog.claimEpochOwner(fs(lake2), lake2, "LayoutSink"))
    }
    assert(e2.getMessage.contains("epoch"), e2.getMessage)
    assert(graft.streaming.LayoutSink.readCommitted(spark, lake2)
      .count() == 200L)
  }

  test("a CHECK constraint added between an OCC append's staged-bytes " +
    "validation and its commit section still gates the publish: the " +
    "in-lock re-validation rejects a violating batch") {
    val lake = mkLake() // committed rows all have v >= 0
    val f = fs(lake)
    val e = intercept[graft.sources.Constraints.ConstraintViolation] {
      Occ.append(spark, lake,
        Seq((10000, -5L)).toDF("k", "v"), // violates the future gate
        beforeCommit = () =>
          graft.sources.Constraints.add(spark, lake, "v_nonneg", "v >= 0"))
    }
    assert(e.name == "v_nonneg")
    // nothing published: committed view unchanged, no committed row
    // violates the live constraint
    val got = graft.streaming.LayoutSink.readCommitted(spark, lake)
    assert(got.count() == 200L)
    assert(got.filter(col("v") < 0).count() == 0L)
  }

  test("a definition change inside an OCC DML verb's window is a " +
    "CONFLICT: the verb re-prepares under the fresh definitions — " +
    "a violating update is rejected, a compatible merge lands") {
    // negative arm: the update's staged delta violates the constraint
    // that landed mid-window; the conflict retry re-validates and throws
    val lake = mkLake()
    val added = new AtomicBoolean(false)
    val e = intercept[graft.sources.Constraints.ConstraintViolation] {
      Occ.updateMor(spark, lake, "k < 10", Map("v" -> "-1"),
        beforeCommit = () => {
          if (added.compareAndSet(false, true))
            graft.sources.Constraints.add(spark, lake, "v_nonneg", "v >= 0")
        })
    }
    assert(e.name == "v_nonneg")
    val got = graft.sources.DeletionVectors.readMor(spark, lake)
    assert(got.count() == 200L)
    assert(got.filter(col("v") < 0).count() == 0L,
      "the rejected update must not publish stale-validated rows")
    // positive arm: a merge whose delta SATISFIES the mid-window
    // constraint pays exactly one conflict retry and lands
    val lake2 = mkLake()
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val (m, a) = Occ.mergeMor(spark, lake2,
      (0 until 5).map(k => (k, 7L)).toDF("k", "v"), Seq("k"),
      beforeCommit = () => {
        if (calls.incrementAndGet() == 1)
          graft.sources.Constraints.add(spark, lake2, "v_nonneg", "v >= 0")
      })
    assert(m == 5L && a == 5L)
    assert(calls.get() == 2, s"expected one conflict retry, saw $calls")
    val got2 = graft.sources.DeletionVectors.readMor(spark, lake2)
    assert(got2.filter(col("k") < 5 && col("v") =!= 7L).count() == 0L)
    assert(got2.count() == 200L)
  }

  test("CoW merge racing an append, both orders: the append's files " +
    "are carried (WriteSerializable — appends commute), the merge " +
    "lands without a retry, and no row is lost") {
    // order A: the append commits INSIDE the merge's window — NOT a
    // conflict (touched-file intersection is empty); the commit-time
    // carry picks the appended files up
    val lake = mkLake()
    val injected = new AtomicBoolean(false)
    val (rew, carried) = Occ.merge(spark, lake,
      (0 until 50).map(k => (k, -1L)).toDF("k", "v"), Seq("k"),
      beforeCommit = () => {
        if (injected.compareAndSet(false, true)) {
          assert(Occ.append(spark, lake,
            (4000 until 4040).map(k => (k, 4L)).toDF("k", "v"),
            numFiles = 2) > 0L)
        }
      })
    assert(rew == 1 && carried >= 2,
      s"the interleaved append's files must be carried ($rew/$carried)")
    val got = graft.streaming.LayoutSink.readCommitted(spark, lake)
    assert(got.count() == 240L) // 200 base + 40 appended (50 replaced)
    assert(got.filter(col("k") < 50 && col("v") =!= -1L).count() == 0L)
    assert(got.filter(col("k") >= 4000).count() == 40L)
    // order B: merge first, append after — trivially both land
    assert(Occ.append(spark, lake,
      (5000 until 5010).map(k => (k, 5L)).toDF("k", "v")) > 0L)
    assert(graft.streaming.LayoutSink.readCommitted(spark, lake)
      .count() == 250L)
  }

  test("two CoW merges, overlapping touched files: the loser RETRIES " +
    "over the winner's version — no lost update") {
    val lake = mkLake()
    val injected = new AtomicBoolean(false)
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val (rew, _) = Occ.merge(spark, lake,
      (0 until 30).map(k => (k, -1L)).toDF("k", "v"), Seq("k"),
      beforeCommit = () => {
        calls.incrementAndGet()
        if (injected.compareAndSet(false, true)) {
          // same single-file lake: the inner merge touches THE file
          // the outer one rewrote — deterministic conflict
          val (r2, _) = Occ.merge(spark, lake,
            (100 until 130).map(k => (k, -2L)).toDF("k", "v"), Seq("k"))
          assert(r2 == 1)
        }
      })
    // the retry re-discovers over the winner's 4-file rewrite, so the
    // outer merge's touched set grows from 1 file to up to 4
    assert(rew >= 1 && calls.get() == 2,
      s"expected exactly one conflict retry, saw ${calls.get()} " +
        s"(touched $rew)")
    val got = graft.streaming.LayoutSink.readCommitted(spark, lake)
    assert(got.count() == 200L)
    assert(got.filter(col("k") < 30 && col("v") =!= -1L).count() == 0L)
    assert(got.filter(col("k") >= 100 && col("k") < 130 &&
      col("v") =!= -2L).count() == 0L,
      "the inner merge's update must survive the outer one's retry")
  }

  test("OCC OPTIMIZE racing an appender: the append survives (carried " +
    "un-optimized), the rewrite lands, rows are exactly preserved; a " +
    "mid-rewrite MUTATION forces the retry instead") {
    val lake = mkLake()
    val injected = new AtomicBoolean(false)
    val (rewritten, carriedAppends) = Occ.optimize(spark, lake,
      Seq("k"), bits = 8, numFiles = 2,
      beforeCommit = () => {
        if (injected.compareAndSet(false, true)) {
          assert(Occ.append(spark, lake,
            (6000 until 6025).map(k => (k, 6L)).toDF("k", "v"),
            numFiles = 1) > 0L)
        }
      })
    assert(rewritten == 1 && carriedAppends == 1,
      s"append carried through the rewrite ($rewritten/$carriedAppends)")
    val got = graft.streaming.LayoutSink.readCommitted(spark, lake)
    assert(got.count() == 225L)
    assert(got.agg(sum(col("v"))).head.getLong(0) ==
      (0 until 200).map(2L * _).sum + 25 * 6L)
    // a DV landing mid-rewrite is a CONFLICT: the retry re-clusters
    // over the post-delete view and the dead rows stay dead
    val injected2 = new AtomicBoolean(false)
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val (_, _) = Occ.optimize(spark, lake, Seq("k"), bits = 8,
      numFiles = 2,
      beforeCommit = () => {
        calls.incrementAndGet()
        if (injected2.compareAndSet(false, true)) {
          assert(Occ.deleteMor(spark, lake, "k < 20") == 20L)
        }
      })
    assert(calls.get() == 2, s"expected one retry, saw ${calls.get()}")
    val after = graft.streaming.LayoutSink.readCommitted(spark, lake)
    assert(after.count() == 205L)
    assert(after.filter(col("k") < 20).count() == 0L,
      "DV-deleted rows must not be resurrected by the rewrite")
  }

  test("OCC clause merges: two over DISJOINT files commit " +
    "concurrently (no retry — the carry recomputes); an OVERLAPPING " +
    "pair conflicts exactly once and both clause programs apply") {
    import graft.sources.MergeInto
    import graft.sources.MergeInto.MatchedUpdate
    // two-file lake: batch 0 holds k < 200, batch 1 holds k >= 1000
    val dir = Files.createTempDirectory("graft_occ_cl_").toString
    val lake = s"$dir/lake"
    val f = fs(lake)
    (0 until 200).map(k => (k, 2L * k)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(lake)
    CommitLog.commit(f, lake, 0L,
      CommitLog.dataFileNames(f, lake).toSeq.sorted)
    val before = CommitLog.dataFileNames(f, lake)
    (1000 until 1200).map(k => (k, 2L * k)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(lake)
    CommitLog.commit(f, lake, 1L,
      (CommitLog.dataFileNames(f, lake) -- before).toSeq.sorted)
    // DISJOINT: the outer merge touches only the k<200 file; the
    // inner one (committed inside its window) rewrites only the
    // k>=1000 file — the outer's touched files all survive, so its
    // commit section must WIN on the first attempt, carrying the
    // inner merge's fresh files
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val injected = new AtomicBoolean(false)
    Occ.mergeClauses(spark, lake,
      (0 until 50).map(k => (k, -1L)).toDF("k", "nv"), Seq("k"),
      matched = Seq(MatchedUpdate(Map("v" -> "s.nv"))),
      beforeCommit = () => {
        calls.incrementAndGet()
        if (injected.compareAndSet(false, true)) {
          Occ.mergeClauses(spark, lake,
            (1000 until 1050).map(k => (k, -2L)).toDF("k", "nv"),
            Seq("k"),
            matched = Seq(MatchedUpdate(Map("v" -> "s.nv")))): Unit
        }
      })
    assert(calls.get() == 1,
      s"disjoint clause merges must not conflict (${calls.get()} attempts)")
    val got = graft.streaming.LayoutSink.readCommitted(spark, lake)
    assert(got.count() == 400L)
    assert(got.filter(col("k") < 50 && col("v") =!= -1L).count() == 0L)
    assert(got.filter(col("k") >= 1000 && col("k") < 1050 &&
      col("v") =!= -2L).count() == 0L)

    // OVERLAPPING: same file — exactly one retry; the loser
    // re-evaluates its clauses on the winner's version, so both
    // programs apply (outer last on the shared keys)
    val lake2 = mkLake()
    val injected2 = new AtomicBoolean(false)
    val calls2 = new java.util.concurrent.atomic.AtomicInteger(0)
    Occ.mergeClauses(spark, lake2,
      (0 to 30).map(k => (k, -7L)).toDF("k", "nv"), Seq("k"),
      matched = Seq(MatchedUpdate(Map("v" -> "s.nv"))),
      beforeCommit = () => {
        calls2.incrementAndGet()
        if (injected2.compareAndSet(false, true)) {
          MergeInto.mergeClauses(spark, lake2,
            (20 to 60).map(k => (k, -9L)).toDF("k", "nv"), Seq("k"),
            matched = Seq(MatchedUpdate(Map("v" -> "s.nv")))): Unit
        }
      })
    assert(calls2.get() == 2,
      s"expected exactly one retry, saw ${calls2.get()} attempts")
    val got2 = graft.streaming.LayoutSink.readCommitted(spark, lake2)
    assert(got2.count() == 200L)
    assert(got2.filter(col("k") <= 30 && col("v") =!= -7L).count() == 0L,
      "the retried outer program must apply last on the overlap")
    assert(got2.filter(col("k") > 30 && col("k") <= 60 &&
      col("v") =!= -9L).count() == 0L,
      "the interleaved winner's program must not be lost")
  }

  test("REAL racing clause merges: two OCC clause programs on " +
    "disjoint keys plus a blind appender, genuinely concurrent — all " +
    "three land under any interleaving, CoW and MoR") {
    import graft.sources.MergeInto.MatchedUpdate
    def program(lake: String, lo: Int, hi: Int, nv: Long,
        mor: Boolean): Unit = {
      val src = (lo until hi).map(k => (k, nv)).toDF("k", "nv")
      if (mor) Occ.mergeClausesMor(spark, lake, src, Seq("k"),
        matched = Seq(MatchedUpdate(Map("v" -> "s.nv")))): Unit
      else Occ.mergeClauses(spark, lake, src, Seq("k"),
        matched = Seq(MatchedUpdate(Map("v" -> "s.nv")))): Unit
    }
    for (mor <- Seq(false, true)) {
      val lake = mkLake() // ONE file — the merges genuinely collide
      val a = Future(program(lake, 0, 40, -11L, mor))
      val b = Future(program(lake, 100, 140, -22L, mor))
      val c = Future(Occ.append(spark, lake,
        (7000 until 7050).map(k => (k, 7L)).toDF("k", "v")))
      Await.result(a, 10.minutes)
      Await.result(b, 10.minutes)
      assert(Await.result(c, 10.minutes) > 0)
      val got = DeletionVectors.readMor(spark, lake)
      assert(got.count() == 250L, s"mor=$mor: ${got.count()}")
      assert(got.filter(col("k") < 40 && col("v") =!= -11L)
        .count() == 0L, s"mor=$mor: program A partially lost")
      assert(got.filter(col("k") >= 100 && col("k") < 140 &&
        col("v") =!= -22L).count() == 0L,
        s"mor=$mor: program B partially lost")
      assert(got.filter(col("k") >= 7000).count() == 50L,
        s"mor=$mor: the racing append must not be lost")
    }
  }

  test("a MoR OCC verb whose snapshot an Occ.optimize winner vacuums " +
    "before the unlocked preparation reads it retries instead of " +
    "failing on the missing file") {
    import graft.sources.MergeInto.MatchedUpdate
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftgate.impl", classOf[GateFs].getName)
    val upd = (0 until 10).map(k => (k, -1L))
    val verbs: Seq[(String, String => Any)] = Seq(
      "deleteMor" -> (lake => Occ.deleteMor(spark, lake, "k < 10")),
      "updateMor" -> (lake =>
        Occ.updateMor(spark, lake, "k < 10", Map("v" -> "-1"))),
      "mergeMor" -> (lake =>
        Occ.mergeMor(spark, lake, upd.toDF("k", "v"), Seq("k"))),
      "mergeClausesMor" -> (lake =>
        Occ.mergeClausesMor(spark, lake, upd.toDF("k", "nv"), Seq("k"),
          matched = Seq(MatchedUpdate(Map("v" -> "s.nv"))))))
    for ((verb, run) <- verbs) {
      val lake = "graftgate://" + mkLake()
      // the stale listing the gate hands back resolves its records
      // from the parse cache, so the verb's snapshot is the one from
      // before the optimize
      CommitLog.committedView(fs(lake), lake)
      val fired = new AtomicBoolean(false)
      GateFs.arm(verb, () => {
        Occ.optimize(spark, lake, Seq("k"))
        fired.set(true)
      })
      try run(lake) finally GateFs.disarm()
      assert(fired.get, s"$verb: the optimize winner never ran")
      val got = DeletionVectors.readMor(spark, lake)
      val live = if (verb == "deleteMor") 190L else 200L
      assert(got.count() == live, s"$verb: ${got.count()} rows")
      if (verb != "deleteMor")
        assert(got.filter(col("k") < 10 && col("v") =!= -1L).count() == 0L,
          s"$verb: the retried write was lost")
    }
  }

  test("the change feed flipping ON inside an OCC verb's window is a " +
    "conflict: the verb retries and the published version carries " +
    "change data") {
    import graft.sources.ChangeDataFeed
    val lake = mkLake()
    // feed NOT enabled when the verb stages; enable() lands between
    // the unlocked staging and the commit section (beforeCommit).
    // Without the in-lock isEnabled re-check the mutation publishes
    // with no _cdf directory and every later feed window spanning it
    // is permanently unservable.
    val pre = ChangeDataFeed.currentVersion(spark, lake)
    val flipped = new AtomicBoolean(false)
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val n = Occ.deleteMor(spark, lake, "k < 10",
      beforeCommit = () => {
        calls.incrementAndGet()
        if (flipped.compareAndSet(false, true))
          ChangeDataFeed.enable(spark, lake)
      })
    assert(n == 10L)
    assert(calls.get() == 2, s"expected one retry, saw ${calls.get()}")
    val head = ChangeDataFeed.currentVersion(spark, lake)
    val win = ChangeDataFeed.read(spark, lake, pre, head)
    assert(win.filter(col("_change_type") === "delete").count() == 10L,
      "the retried verb must publish its change rows")
  }

  test("the sink's commit section WAITS out a briefly-held writer " +
    "lock instead of failing the fully-staged batch (and the " +
    "streaming query with it)") {
    val dir = Files.createTempDirectory("graft_occ_sinkwait_").toString
    val lake = s"$dir/lake"
    val f = fs(lake)
    val acquired = new java.util.concurrent.CountDownLatch(1)
    // an OCC commit section (here: stretched to seconds) holds the
    // lock when the sink's acquire lands
    val holder = Future {
      CommitLog.withWriterLock(f, lake) {
        acquired.countDown()
        Thread.sleep(3000L)
      }
    }
    assert(acquired.await(30, java.util.concurrent.TimeUnit.SECONDS))
    // fail-fast (waitMs = 0) used to throw HERE, killing the batch
    graft.streaming.LayoutSink.processBatch(
      (0 until 50).map(k => (k, k.toLong)).toDF("k", "v"), batchId = 0L,
      lake, s"$dir/idx", Seq("k"), bits = 10, filesPerBatch = 1,
      curve = "morton")
    Await.result(holder, 60.seconds)
    assert(graft.streaming.LayoutSink.readCommitted(spark, lake)
      .count() == 50L)
  }

  test("withWriterLock's waitMs is ONE deadline across the in-process " +
    "and file-lock stages — a contender never waits ~2x the bound") {
    val lake = mkLake()
    val f = fs(lake)
    // an "external process" holds the file lock for the whole test
    val lockPath = new Path(CommitLog.logDir(lake), "WRITER_LOCK")
    f.mkdirs(new Path(CommitLog.logDir(lake)))
    val out = f.create(lockPath, false)
    out.write(s"${System.currentTimeMillis()} ext".getBytes("UTF-8"))
    out.close()
    // ...and an in-process holder occupies the JVM stage for ~400 ms
    val jvm = CommitLog.jvmLockFor(f, lake)
    jvm.lock()
    val t0 = System.nanoTime()
    val fut = Future {
      intercept[IllegalStateException] {
        CommitLog.withWriterLock(f, lake, waitMs = 700L) {
          fail("must not enter: the file lock is held throughout")
        }
      }
      (System.nanoTime() - t0) / 1e6
    }
    Thread.sleep(400L)
    jvm.unlock()
    val elapsedMs = Await.result(fut, 30.seconds)
    // two stacked waits would be ~400 (JVM) + 700 (file) = ~1100 ms;
    // one deadline caps the total at ~700 ms (+ scheduling slack)
    assert(elapsedMs >= 500, f"gave up too early: $elapsedMs%.0f ms")
    assert(elapsedMs < 1050,
      f"waited ~2x the bound: $elapsedMs%.0f ms — the deadline must " +
        "span both stages")
    f.delete(lockPath, false)
  }

  test("an index writer publishing while VectorIndex.build prepares " +
    "cannot sweep the segment and aux dirs build then publishes") {
    import graft.sources.VectorIndex
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftlockgate.impl", classOf[LockGateFs].getName)
    val emb = graft.queries.Oracle
      .table(spark, "/root/testdata/sf0.001", "embeddings")
      .filter(col("vec_id") < 400)
    val dir = Files.createTempDirectory("graft_vidx_race_").toString
    assert(Occ.append(spark, s"$dir/lake", emb) >= 0L)
    val lake = s"graftlockgate://$dir/lake"
    val idx = s"$dir/vidx"
    VectorIndex.build(spark, lake, idx)
    // a second build publishes after this build wrote its segment and
    // before it takes the writer lock; that publish sweeps every
    // segment and aux dir no kept generation references
    val fired = new AtomicBoolean(false)
    LockGateFs.arm(() => {
      VectorIndex.build(spark, lake, idx)
      fired.set(true)
    })
    val params = VectorIndex.Params(pqM = 4, pqK = 16)
    try VectorIndex.build(spark, lake, idx, params)
    finally LockGateFs.disarm()
    assert(fired.get, "the racing build never ran")
    assert(VectorIndex.centroids(spark, idx).count() == 16L)
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head.getSeq[Float](0)
    assert(VectorIndex.queryPq(spark, lake, idx, qvec.toArray, k = 10,
      probes = 4, shortlist = 40).count() == 10L)
  }

  test("a publish sweeping VectorIndex.refresh's staged segment before " +
    "its drift probe reads it fails the refresh as a retryable stale " +
    "index") {
    import graft.sources.VectorIndex
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftseggate.impl", classOf[SegmentGateFs].getName)
    conf.set("fs.AbstractFileSystem.graftseggate.impl",
      classOf[SegmentGateAfs].getName)
    val emb = graft.queries.Oracle.table(spark,
      new Path(sf("embeddings")).getParent.toString, "embeddings")
    val dir = Files.createTempDirectory("graft_vidx_refresh_race_").toString
    val lake = s"$dir/lake"
    val idx = s"graftseggate://$dir/vidx"
    assert(Occ.append(spark, lake, emb.filter(col("vec_id") < 300)) >= 0L)
    VectorIndex.build(spark, lake, idx)
    assert(Occ.append(spark, lake, emb.filter(col("vec_id") >= 300 &&
      col("vec_id") < 400)) >= 0L)
    // a build publishes between the refresh's segment write and its
    // read-back; that publish sweeps the unreferenced staged segment
    val fired = new AtomicBoolean(false)
    SegmentGateFs.arm(() => {
      VectorIndex.build(spark, lake, idx)
      fired.set(true)
    })
    val e =
      try intercept[Exception](VectorIndex.refresh(spark, lake, idx))
      finally SegmentGateFs.disarm()
    assert(fired.get, "the racing build never ran")
    assert(e.isInstanceOf[VectorIndex.StaleVectorIndexException], e.toString)
    assert(e.getMessage.contains("retry the refresh"), e.getMessage)
    // the racing build already covers every committed file
    assert(VectorIndex.refresh(spark, lake, idx) == ((0, 0L)))
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head.getSeq[Float](0)
    assert(VectorIndex.query(spark, lake, idx, qvec, k = 10,
      probes = 4).count() == 10L)
  }
}

/** The local filesystem under the scheme `graftseggate:`, with one
  * hook: armed, it runs once when `VectorIndex.refresh` lists its
  * staged segment to read it back (the drift probe), before the
  * listing is taken. */
class SegmentGateFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftseggate:///")
  override def getScheme: String = "graftseggate"
  override def listStatus(p: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    if (p.getName.startsWith("seg-")) SegmentGateFs.fire()
    super.listStatus(p)
  }
}

/** [[SegmentGateFs]] for `FileContext` (the pointer's atomic rename). */
class SegmentGateAfs(uri: java.net.URI,
    conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.hadoop.fs.DelegateToFileSystem(uri,
      new SegmentGateFs, conf, "graftseggate", false)

object SegmentGateFs {
  private var armed: Option[() => Unit] = None

  def arm(hook: () => Unit): Unit = synchronized { armed = Some(hook) }

  def disarm(): Unit = synchronized { armed = None }

  private def fire(): Unit = {
    val probing = Thread.currentThread.getStackTrace.exists(e =>
      e.getClassName == "graft.sources.VectorIndex$" &&
        e.getMethodName.contains("segmentMeanAsim"))
    val hook = synchronized {
      armed.filter(_ => probing).map { h => armed = None; h }
    }
    hook.foreach(_())
  }
}

/** The local filesystem under the scheme `graftgate:`, with one hook:
  * armed for an `Occ` verb, the first listing of a commit log that the
  * verb's snapshot (`CommitLog.committedView` called from the verb
  * itself) makes runs the hook after the listing is taken. The verb
  * then prepares on a snapshot the hook has already moved past. */
class GateFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftgate:///")
  override def getScheme: String = "graftgate"
  override def listStatus(p: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    val listed = super.listStatus(p)
    if (p.getName == "_graft_log") GateFs.fire()
    listed
  }
}

object GateFs {
  private var armed: Option[(String, () => Unit)] = None

  def arm(verb: String, hook: () => Unit): Unit = synchronized {
    armed = Some((verb, hook))
  }

  def disarm(): Unit = synchronized { armed = None }

  private def fire(): Unit = {
    val frames = Thread.currentThread.getStackTrace.toSeq
      .map(e => (e.getClassName, e.getMethodName))
    val hook = synchronized {
      armed.filter { case (verb, _) =>
        frames.sliding(2).exists {
          case Seq(a, b) => a == ("graft.sources.CommitLog$",
            "committedView") && b == ("graft.sources.Occ$", verb)
          case _ => false
        }
      }.map { h => armed = None; h._2 }
    }
    hook.foreach(_())
  }
}

/** The local filesystem under the scheme `graftlockgate:`, with one
  * hook: armed, it runs once when `VectorIndex.build` is about to take
  * the lake's writer lock (the lock's `mkdirs` of the log dir), before
  * the lock file exists. */
class LockGateFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI =
    java.net.URI.create("graftlockgate:///")
  override def getScheme: String = "graftlockgate"
  override def mkdirs(p: Path): Boolean = {
    LockGateFs.fire()
    super.mkdirs(p)
  }
}

object LockGateFs {
  private var armed: Option[() => Unit] = None

  def arm(hook: () => Unit): Unit = synchronized { armed = Some(hook) }

  def disarm(): Unit = synchronized { armed = None }

  private def fire(): Unit = {
    val frames = Thread.currentThread.getStackTrace.toSeq
      .map(e => (e.getClassName, e.getMethodName))
    val hook = synchronized {
      armed.filter { _ =>
        frames.contains(("graft.sources.CommitLog$", "withFileWriterLock")) &&
          frames.contains(("graft.sources.VectorIndex$", "build"))
      }.map { h => armed = None; h }
    }
    hook.foreach(_())
  }
}
