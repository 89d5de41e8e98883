package graft.sources.bucketed

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.sources.EqualTo

import graft.SparkSuite

/** A table's state lives in one object and its commits take its
  * lineage's lock (a base table plus its WAP branches), not a
  * process-wide monitor. These specs pin what that changes: drop,
  * drop_branch, publish_branch and unload leave nothing of a table
  * behind, and commits to unrelated tables do not wait on each other.
  */
class TableStateSpec extends SparkSuite {
  import spark.implicits._

  private def mk(name: String): Unit = {
    BucketStore.drop(name)
    BucketStore.load(spark, name, (0L until 64L).map(i => (i, i * 1.5)).toDF("k", "v"), "k", 4)
  }

  private def deleteOne(name: String, k: Long): BucketStore.DeleteOutcome =
    BucketStore.deleteWhereFiltered(name, Array(EqualTo("k", k)))

  test("drop + re-create: the new table has no last delete outcome") {
    mk("ts_redel")
    deleteOne("ts_redel", 1L)
    assert(BucketStore.lastDeleteOutcome("ts_redel").isDefined)
    mk("ts_redel")
    assert(BucketStore.lastDeleteOutcome("ts_redel").isEmpty,
      "a re-created table must not inherit the dropped table's delete outcome")
    BucketStore.drop("ts_redel")
  }

  test("a branch re-created after publish or drop starts with no refresh policy") {
    mk("ts_brpol")
    val bname = BucketStore.branchName("ts_brpol", "b")
    BucketStore.createBranch("ts_brpol", "b")
    BucketStore.setRefreshPolicy(bname, 0L)
    BucketStore.publishBranch("ts_brpol", "b")
    BucketStore.createBranch("ts_brpol", "b")
    assert(BucketStore.refreshPolicyOf(bname).isEmpty,
      "publish_branch must not leave the branch's refresh policy behind")
    BucketStore.setRefreshPolicy(bname, 0L)
    BucketStore.dropBranch("ts_brpol", "b")
    BucketStore.createBranch("ts_brpol", "b")
    assert(BucketStore.refreshPolicyOf(bname).isEmpty,
      "drop_branch must not leave the branch's refresh policy behind")
    BucketStore.drop("ts_brpol")
  }

  test("unload + openFromDisk: the table carries exactly the config its manifests persist") {
    val name = "ts_reopen"
    mk(name)
    BucketStore.setDmlMode(name, BucketStore.MergeOnRead)
    BucketStore.setCheck(name, "v >= 0")
    BucketStore.setTag(name, "golden")
    BucketStore.setVacuumFloor(name, 60L * 1000)
    deleteOne(name, 2L) // a publish carrying the config above; sets the outcome
    BucketStore.registerStatColumns(name, Seq("v")) // after the last publish: not persisted
    BucketStore.setRefreshPolicy(name, 0L)
    BucketStore.maybeRefresh(name): Unit // starts the staleness clock
    assert(BucketStore.lastDeleteOutcome(name).isDefined)

    val dir = BucketStore.unload(name).get
    assert(!BucketStore.exists(name))
    val persisted = FileStore.readManifests(dir).filter(_.name == name).last.config
    BucketStore.openFromDisk(name, dir)
    assert(BucketStore.dmlModeOf(name) === persisted.dmlMode)
    assert(BucketStore.checkOf(name) === persisted.check)
    assert(BucketStore.tagsOf(name) === persisted.tags)
    assert(BucketStore.statColumnsOf(name) === persisted.statColumns)
    assert(BucketStore.txnsOf(name) === persisted.txns)
    assert(BucketStore.vacuumFloorOf(name) === persisted.vacuumMinAgeMs)
    assert(persisted.dmlMode === BucketStore.MergeOnRead && persisted.tags.contains("golden"))
    assert(BucketStore.refreshPolicyOf(name).isEmpty, "a refresh policy is not persisted")
    assert(BucketStore.lastDeleteOutcome(name).isEmpty, "a delete outcome is not persisted")
    BucketStore.drop(name)
  }

  /** Hold `lockName`'s lineage lock on a second thread, run `commit` on a
    * third, and report whether it finished within `waitMs` while the
    * lock was held. The lock is always released, and the commit always
    * completes, before this returns.
    */
  private def commitsWhileHeld(lockName: String, waitMs: Long)(commit: => Unit): Boolean = {
    val held = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val holder = new Thread(() => BucketStore.withLineageLock(lockName) {
      held.countDown()
      release.await(60, TimeUnit.SECONDS): Unit
    })
    holder.start()
    assert(held.await(30, TimeUnit.SECONDS), "the holder never took the lock")
    val done = new CountDownLatch(1)
    @volatile var failure: Option[Throwable] = None
    val committer = new Thread(() =>
      try commit catch { case t: Throwable => failure = Some(t) } finally done.countDown())
    committer.start()
    val whileHeld = try done.await(waitMs, TimeUnit.MILLISECONDS) finally release.countDown()
    holder.join(60000)
    assert(done.await(60, TimeUnit.SECONDS), "the commit never finished after the lock was released")
    failure.foreach(throw _)
    whileHeld
  }

  test("a commit to another lineage completes while one lineage's lock is held") {
    mk("ts_lock_a")
    mk("ts_lock_b")
    val v0 = BucketStore.currentVersion("ts_lock_b")
    assert(commitsWhileHeld("ts_lock_a", waitMs = 30000)(deleteOne("ts_lock_b", 3L)),
      "a commit to an unrelated table must not wait on another lineage's lock")
    assert(BucketStore.currentVersion("ts_lock_b") > v0)
    BucketStore.drop("ts_lock_a")
    BucketStore.drop("ts_lock_b")
  }

  test("a branch commit waits for its base's lineage lock") {
    mk("ts_lock_c")
    BucketStore.createBranch("ts_lock_c", "b")
    val bname = BucketStore.branchName("ts_lock_c", "b")
    val v0 = BucketStore.currentVersion(bname)
    assert(!commitsWhileHeld("ts_lock_c", waitMs = 1000)(deleteOne(bname, 4L)),
      "a branch shares its base's directory and GC domain, so its commit must wait")
    assert(BucketStore.currentVersion(bname) > v0)
    BucketStore.drop("ts_lock_c")
  }
}
