package graft

import org.apache.spark.sql.functions._

/** Pins the checkpoint-release machinery behind VERDICT r4 #2: a
  * `localCheckpoint`ed frame's blocks are NOT released by
  * `Dataset.unpersist`, so CacheRegistry must track and release them
  * deterministically — otherwise loop-heavy operators leak storage in
  * long-lived sessions and contaminate back-to-back query timings.
  */
class CacheRegistrySpec extends SparkSpec {

  private def persistentRddIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("registerCheckpoint + unpersistAll releases checkpoint blocks") {
    import spark.implicits._
    CacheRegistry.unpersistAll() // clean slate
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val before = persistentRddIds
    val cp = CacheRegistry.registerCheckpoint(
      Seq(1L, 2L, 3L).toDF("v").localCheckpoint(true))
    assert(cp.count() === 3)
    // the checkpoint pinned at least one new RDD
    val pinned = persistentRddIds -- before
    assert(pinned.nonEmpty, "expected localCheckpoint to persist an RDD")
    CacheRegistry.unpersistAll(blocking = true)
    assert((persistentRddIds -- before).isEmpty,
      "unpersistAll must release registered checkpoint blocks")
  }

  test("dedupGroups leaves no persistent RDDs after harness release") {
    import spark.implicits._
    CacheRegistry.unpersistAll()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val before = persistentRddIds
    def toks(from: Int, to: Int) = (from to to).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (1L, toks(1, 10), "s"), (2L, toks(2, 11), "s"), (3L, toks(3, 12), "s"),
      (9L, "u1 u2 u3 u4 u5", "s")
    ).toDF("doc_id", "text", "source")
    graft.operators.DedupOps.dedupGroups(docs, 0.7)
      .write.format("noop").mode("overwrite").save()
    // the harness contract: one release call after the consuming action
    CacheRegistry.unpersistAll(blocking = true)
    assert((persistentRddIds -- before).isEmpty,
      "dedupGroups must not leak blocks past CacheRegistry.unpersistAll")
  }

  test("plainLocalCheckpoint carries the child's hash partitioning") {
    import org.apache.spark.sql.graftx.bridge
    // ADVICE r6: the plain LogicalRDD used to declare
    // UnknownPartitioning, so every consumer re-shuffled data that was
    // already hash-placed — one avoidable exchange of the carried
    // labels per label-loop round
    val df = spark.range(100)
      .select((col("id") % 10).as("k"), col("id").as("v"))
      .repartition(4, col("k"))
    val ck = CacheRegistry.pin(df)
    val part = bridge.checkpointPartitioning(ck)
      .getOrElse(fail("checkpoint did not produce a LogicalRDD leaf"))
    assert(part.toString.toLowerCase.contains("hashpartitioning"),
      s"expected hash partitioning carried through, got $part")
    // consumer aggregating on the same key: zero exchanges in the
    // executed plan (4 = the session's shuffle partitions, so the
    // carried partitioning satisfies the agg's distribution exactly)
    val agg = ck.groupBy("k").agg(sum("v").as("s"))
    agg.collect()
    assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
      "groupBy on the carried partitioning key re-shuffled")
    // release the pinned blocks
    CacheRegistry.releaseCheckpoint(ck)
  }

  /** Is `df`'s checkpoint RDD still pinned in the block manager? */
  private def pinned(df: org.apache.spark.sql.DataFrame): Boolean =
    org.apache.spark.sql.graftx.bridge.checkpointRdd(df)
      .exists(r => persistentRddIds.contains(r.id))

  test("pin releases its build's caches and lands in the caller's scope") {
    CacheRegistry.unpersistAll(blocking = true)
    val none = org.apache.spark.storage.StorageLevel.NONE
    var built: org.apache.spark.sql.DataFrame = null
    val p = CacheRegistry.pin {
      built = CacheRegistry.persist(spark.range(10).toDF("a"))
      built.filter(col("a") < 5)
    }
    assert(built.storageLevel === none,
      "a cache the build registered must be released once the pin is done")
    assert(pinned(p) && p.count() === 5)
    // inside nested scopes the pin belongs to the innermost one open
    var inner: org.apache.spark.sql.DataFrame = null
    val outer = CacheRegistry.scoped {
      val o = CacheRegistry.pin(spark.range(3).toDF("b"))
      CacheRegistry.scoped {
        inner = CacheRegistry.pin {
          built = CacheRegistry.persist(spark.range(7).toDF("c"))
          built
        }
        assert(built.storageLevel === none && pinned(inner))
      }
      assert(!pinned(inner), "the pin must go with the scope that called pin")
      assert(pinned(o))
      o
    }
    assert(!pinned(outer))
    assert(pinned(p), "a pin made outside any scope waits for the root sweep")
    CacheRegistry.unpersistAll(blocking = true)
    assert(!pinned(p))
  }

  test("a pin registered again moves to the inner scope, and is released once") {
    // foldClosure's shape: the caller pins its pairs, and the closure
    // registers them again so its edge scope releases them early
    val rdd = CacheRegistry.scoped {
      val p = CacheRegistry.pin(spark.range(8).toDF("a"))
      val rdd = org.apache.spark.sql.graftx.bridge.checkpointRdd(p).get
      assert(CacheRegistry.openScopeHolds(rdd.id))
      CacheRegistry.scoped {
        CacheRegistry.registerCheckpoint(p)
        assert(CacheRegistry.openScopeHolds(rdd.id))
      }
      assert(!CacheRegistry.openScopeHolds(rdd.id),
        "the outer scope must hold no entry once the pin has moved")
      assert(!pinned(p), "the inner scope releases the moved pin")
      // mark the RDD persistent again: a second release, by the outer
      // scope closing, would unpersist it
      rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      // releasing a pin early drops its entry as well
      val q = CacheRegistry.pin(spark.range(4).toDF("b"))
      val qRdd = org.apache.spark.sql.graftx.bridge.checkpointRdd(q).get.id
      CacheRegistry.releaseCheckpoint(q)
      assert(!pinned(q) && !CacheRegistry.openScopeHolds(qRdd))
      rdd
    }
    assert(persistentRddIds.contains(rdd.id),
      "the outer scope released the moved pin a second time")
    rdd.unpersist(true)
  }

  test("rounds keeps round r-1 readable in round r and hands over only the last round") {
    CacheRegistry.unpersistAll(blocking = true)
    val states = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    val run = CacheRegistry.rounds("test", 4)(
        CacheRegistry.pin(spark.range(5).toDF("v"))) { (prev, r) =>
      states += prev
      // the previous round's pin is still readable here
      assert(pinned(prev) && prev.count() === 5)
      CacheRegistry.pin(prev.select((col("v") + r).as("v")))
    }
    states += run.state
    assert(run.rounds === 4 && !run.converged)
    assert(run.state.agg(sum("v")).head.getLong(0) === 10L + 5 * (1 + 2 + 3 + 4))
    assert(states.init.forall(s => !pinned(s)),
      "every round but the last must be released")
    assert(pinned(run.state), "the last round's pin passes to the caller")
    CacheRegistry.unpersistAll(blocking = true)
    assert(!pinned(run.state))
    // a converged step stops the loop
    val conv = CacheRegistry.rounds("test", 10)(0)(
      (s, _) => math.min(s + 1, 2), (prev, next) => prev == next)
    assert(conv === CacheRegistry.Rounds(2, 3, converged = true))
    // 0 rounds: init is the result, and its pins are the caller's
    val zero = CacheRegistry.scoped {
      val z = CacheRegistry.rounds("test", 0)(
        CacheRegistry.pin(spark.range(2).toDF("v")))((s, _) => s)
      assert(z.rounds === 0 && pinned(z.state) && z.state.count() === 2)
      z.state
    }
    assert(!pinned(zero))
  }

  test("scoped releases only its own thread's pins; unpersistAll stays global") {
    // operators overlap independent eager pipelines on two driver
    // threads (the incremental folds); a scope must not unpersist a
    // sibling thread's still-hot caches, nor anything registered
    // before it opened.
    CacheRegistry.unpersistAll(blocking = true)
    val mine = CacheRegistry.persist(spark.range(10).toDF("a"))
    val theirsHolder = new java.util.concurrent.atomic.AtomicReference[
      org.apache.spark.sql.DataFrame]()
    val mine2 = CacheRegistry.scoped {
      val t = new Thread(() => {
        theirsHolder.set(CacheRegistry.persist(spark.range(20).toDF("b")))
      })
      t.start(); t.join()
      CacheRegistry.persist(spark.range(30).toDF("c"))
    }
    val none = org.apache.spark.storage.StorageLevel.NONE
    assert(mine.storageLevel !== none, "a frame registered before the scope must survive")
    assert(theirsHolder.get().storageLevel !== none,
      "another thread's frame must survive this thread's scope")
    assert(mine2.storageLevel === none,
      "own in-scope frame must be released")
    CacheRegistry.unpersistAll(blocking = true)
    assert(theirsHolder.get().storageLevel === none &&
      mine.storageLevel === none,
      "unpersistAll must release every thread's registrations")
  }

  test("scoped releases its pins when the body throws") {
    val none = org.apache.spark.storage.StorageLevel.NONE
    var inside: org.apache.spark.sql.DataFrame = null
    val ex = intercept[IllegalStateException] {
      CacheRegistry.scoped {
        inside = CacheRegistry.persist(spark.range(40).toDF("d"))
        throw new IllegalStateException("boom")
      }
    }
    assert(ex.getMessage === "boom")
    assert(inside.storageLevel === none,
      "a throwing body must still release its pins")
  }

  test("an inParallel second-branch pin survives a scope opened on the first branch") {
    // dedupIncremental's shape: the first branch pins pairs inside a
    // scope while the second evaluates the by-name prior; the prior's
    // pins belong to the caller's scope, not to the first branch's
    val none = org.apache.spark.storage.StorageLevel.NONE
    val registered = new java.util.concurrent.CountDownLatch(1)
    val prior = CacheRegistry.scoped {
      val (inner, prior) = graft.operators.DedupOps.inParallel(
        CacheRegistry.scoped {
          val p = CacheRegistry.persist(spark.range(50).toDF("e"))
          // close this scope only after the second branch has registered
          assert(registered.await(60, java.util.concurrent.TimeUnit.SECONDS))
          p
        }, {
          val p = CacheRegistry.persist(spark.range(60).toDF("f"))
          registered.countDown()
          p
        })
      assert(inner.storageLevel === none,
        "the first branch's scope must release its own pin")
      assert(prior.storageLevel !== none,
        "the second branch's pin must survive the first branch's scope")
      prior
    }
    assert(prior.storageLevel === none,
      "the second branch registers in the scope its caller had open")
  }

  test("a pin registered after its scope closed goes to the root list") {
    // inParallel does not wait for an abandoned second branch when the
    // first one throws, so that branch can register into the caller's
    // scope after it has been released; the pin must not be lost there
    val none = org.apache.spark.storage.StorageLevel.NONE
    val go = new java.util.concurrent.atomic.AtomicBoolean(false)
    val late = new java.util.concurrent.atomic.AtomicReference[
      org.apache.spark.sql.DataFrame]()
    val started = new java.util.concurrent.CountDownLatch(1)
    val done = new java.util.concurrent.CountDownLatch(1)
    intercept[IllegalStateException] {
      CacheRegistry.scoped {
        graft.operators.DedupOps.inParallel({
            started.await() // a queued second branch would never run
            throw new IllegalStateException("first branch fails")
          }, {
            started.countDown()
            while (!go.get) Thread.onSpinWait()
            Thread.interrupted() // clear the cancel's interrupt
            late.set(CacheRegistry.persist(spark.range(70).toDF("g")))
            done.countDown()
          })
      }
    }
    go.set(true)
    assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
    assert(late.get().storageLevel !== none)
    CacheRegistry.unpersistAll(blocking = true)
    assert(late.get().storageLevel === none,
      "a late registration must be released by the root sweep")
  }

  test("inParallel returns both results and rethrows the async cause") {
    // the §2.6 overlap helper: results land regardless of which side
    // finishes first, and a failure on the pool thread surfaces as its
    // original exception, not a wrapped ExecutionException
    val (a, b) = graft.operators.DedupOps.inParallel(
      { Thread.sleep(50); 1 }, 2)
    assert((a, b) === ((1, 2)))
    val ex = intercept[IllegalStateException] {
      graft.operators.DedupOps.inParallel(
        1, throw new IllegalStateException("boom"))
    }
    assert(ex.getMessage === "boom")
  }

  test("persistIfLarge: gate-scale inputs skip the persist, large inputs take it") {
    // VERDICT r9 #4: the statistical guards' shared-scan persist cost
    // 2.5x at gate scale. The decision rides the plan's LEAF input
    // estimate: a tiny local relation stays unpersisted; forcing the
    // threshold to 0 restores the shared-scan persist (and registers
    // it for harness release).
    val df = spark.range(1000)
      .select((col("id") % 7).as("k"), col("id").cast("double").as("v"))
      .groupBy("k").agg(sum("v").as("s"))
    val small = CacheRegistry.persistIfLarge(df)
    assert(small.storageLevel === org.apache.spark.storage.StorageLevel.NONE,
      "a sub-threshold input must not pay the persist")
    val large = CacheRegistry.persistIfLarge(df, minInputBytes = 0L)
    try {
      assert(large.storageLevel !== org.apache.spark.storage.StorageLevel.NONE,
        "past the threshold the shared-scan persist must engage")
    } finally CacheRegistry.unpersistAll()
    assert(large.storageLevel === org.apache.spark.storage.StorageLevel.NONE,
      "persistIfLarge frames must release through unpersistAll")
  }
}
