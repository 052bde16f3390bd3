package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.TopicStore

/** Chaos composition: every engine mutation class running concurrently
  * against one topic — direct produce, DSv2 writes (a second TopicStore
  * instance under the hood), broker-local segment writes (produceLocal,
  * the serving coalescers' plane), group polls, compaction, GDPR purge,
  * and generation rescales — then a full quiescent audit of the delivery
  * contract. The piecewise race specs (produce-vs-rescale,
  * purge-vs-poll, commit-vs-rescale) each found a real bug when added;
  * this spec locks their COMPOSITION: the pairwise serialization
  * disciplines (the exclusive produce plane across the flip, the
  * per-(root, topic) maintenance RW lock, one pinned generation read per
  * op) must also hold when everything runs at once, because real serving
  * mixes all of them on independent schedules.
  *
  * Invariants audited at quiescence (a fresh group reading everything):
  *  1. liveness — no thread wedges, no op throws;
  *  2. offsets are distinct per (generation, partition) (a half-swapped
  *     purge or compaction listing double-delivers at identical offsets;
  *     offset spaces restart per generation under the metadata-only
  *     rescale; purge legitimately leaves GAPS — survivors keep
  *     byte-identical offsets — so contiguity is not asserted, loss is
  *     caught by 3);
  *  3. exactly the acked, never-purged values are delivered, once each;
  *  4. per-key produce order survives as offset order (§2.6.1).
  */
class ChaosSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = Graft.configure(
      SparkSession.builder().appName("chaos-spec").master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def ts(sec: Int) = new Timestamp(1700000000000L + sec * 1000L)

  test("produce + poll + compact + purge + rescale compose under load") {
    val store = new TopicStore(
      spark, Files.createTempDirectory("graft-chaos").toString)
    val topic = "t"
    // the sacrificial key the purger erases; excluded from the audit on
    // both sides (purge-vs-produce interleaving makes its survivor set
    // schedule-dependent, which is the documented GDPR contract: erase
    // what exists at purge time)
    val PurgeKey = "gdpr"
    val errors = TrieMap.empty[String, Throwable]
    def guard(name: String)(body: => Unit): Thread =
      new Thread(() => try body catch { case t: Throwable => errors.put(name, t); () }, name)

    // ---- producer: 20 batches of 20 keyed records; every value is
    // unique and carries its per-key sequence for the order audit
    val seqOf = TrieMap.empty[String, AtomicInteger]
    val acked = TrieMap.empty[String, Vector[String]]
    val producer = guard("producer") {
      for (b <- 0 until 20) {
        val rows = (0 until 20).map { i =>
          val key = if (i == 19) PurgeKey else s"k${(b * 20 + i) % 16}"
          val n = seqOf.getOrElseUpdate(key, new AtomicInteger).getAndIncrement()
          (key, s"$key#$n", ts(b * 20 + i))
        }
        store.produceStrings(topic, rows)
        // produceStrings returns after the durable write: acked
        rows.foreach { case (k, v, _) =>
          acked.updateWith(k)(old => Some(old.getOrElse(Vector.empty) :+ v)); ()
        }
      }
    }

    // ---- DSv2 writer: appends through df.write.format("graft"), which
    // builds its OWN TopicStore over the root — the cross-instance
    // produce surface. One record per key per save: a multi-row DataFrame
    // carries no row order, so per-key order across SAVES is the contract
    // being audited
    val writer = guard("dsv2-writer") {
      import spark.implicits._
      for (b <- 0 until 10) {
        val rows = (0 until 8).map { i =>
          val key = s"w$i"
          val n = seqOf.getOrElseUpdate(key, new AtomicInteger).getAndIncrement()
          (key, s"$key#$n", ts(1000 + b * 8 + i))
        }
        rows.toDF("key", "value", "timestamp")
          .write.format("graft")
          .option("root", store.root).option("topic", topic)
          .mode("append").save()
        rows.foreach { case (k, v, _) =>
          acked.updateWith(k)(old => Some(old.getOrElse(Vector.empty) :+ v)); ()
        }
      }
    }

    // ---- broker-local producer: the serving coalescers' segment-write
    // path (produceLocal — shared plane + per-partition monitors + direct
    // parquet write), racing the Spark-plane producers, maintenance
    // swaps, and rescale flips above. Its records join the same audit.
    val localProducer = guard("local-producer") {
      for (b <- 0 until 15) {
        val rows = (0 until 12).map { i =>
          val key = s"l${(b * 12 + i) % 9}"
          val n = seqOf.getOrElseUpdate(key, new AtomicInteger).getAndIncrement()
          TopicStore.LocalRecord(key, s"$key#$n".getBytes("UTF-8"),
            ts(2000 + b * 12 + i).getTime * 1000L, i.toLong)
        }
        store.produceLocal(topic, rows)
        rows.foreach { r =>
          acked.updateWith(r.key)(old =>
            Some(old.getOrElse(Vector.empty) :+ new String(r.value, "UTF-8")))
          ()
        }
      }
    }

    // ---- consumer group: polls with auto-commit the whole run (its
    // deliveries are at-least-once across rescales by contract, so the
    // audit below uses a FRESH group; this thread exists to keep commit
    // scopes, assignment, and the deferred-commit machinery in the mix)
    @volatile var stop = false
    store.registry.register("g", "c", Seq(topic), store.StartFrom.Earliest)
    val consumer = guard("consumer") {
      while (!stop) {
        val page = store.withTopicReads(topic) {
          store.poll("g", topic, "c", maxRecords = 64L).collect()
        }
        if (page.isEmpty) Thread.sleep(20)
      }
    }

    // ---- TWO-member group under the group-wide chain gate: both members
    // poll bounded pages while producers and the rescaler run. The
    // quiescent drain below proves LIVENESS (no member gate-locks the
    // group — the down-rescale lockout shape, concurrently) and
    // COMPLETENESS (the pair's cumulative deliveries cover every
    // surviving record the fresh audit group sees; at-least-once dupes
    // across rescales are allowed, loss is not)
    store.registry.register("pair", "p-a", Seq(topic), store.StartFrom.Earliest)
    store.registry.register("pair", "p-b", Seq(topic), store.StartFrom.Earliest)
    val pairSeen = TrieMap.empty[(Int, Int, Long), String]
    def pairPoll(c: String): Int = {
      val page = store.withTopicReads(topic) {
        store.poll("pair", topic, c, maxRecords = 48L).collect()
      }
      page.foreach { r =>
        pairSeen.put(
          (r.getAs[Int]("version"), r.getAs[Int]("part"), r.getAs[Long]("offset")),
          new String(r.getAs[Array[Byte]]("value"), "UTF-8"))
        ()
      }
      page.length
    }
    val pairA = guard("pair-a") { while (!stop) { if (pairPoll("p-a") == 0) Thread.sleep(15) } }
    val pairB = guard("pair-b") { while (!stop) { if (pairPoll("p-b") == 0) Thread.sleep(15) } }

    // ---- maintenance: compaction (merge-everything threshold) and the
    // sacrificial-key purge, alternating
    val maintenance = guard("maintenance") {
      for (i <- 0 until 6) {
        if (i % 2 == 0) store.compact(topic) else store.purgeKeys(topic, Seq(PurgeKey))
        Thread.sleep(50)
      }
    }

    // ---- rescaler: grow and shrink the ring under fire
    val rescaler = guard("rescaler") {
      for (size <- Seq(6, 3, 6)) {
        store.rescale(topic, size)
        Thread.sleep(100)
      }
    }

    val threads =
      Seq(producer, writer, localProducer, consumer, pairA, pairB, maintenance, rescaler)
    threads.foreach(_.start())
    Seq(producer, writer, localProducer, maintenance, rescaler).foreach(_.join(300000))
    stop = true
    consumer.join(300000)
    pairA.join(300000)
    pairB.join(300000)
    assert(threads.forall(!_.isAlive), "a chaos thread wedged")
    assert(errors.isEmpty,
      s"ops must not throw under composition: ${errors.toMap.view.mapValues(_.toString).toMap}")

    // one last purge so the audit's expectation (no PurgeKey rows older
    // than the final purge) is simply "none survive"
    store.purgeKeys(topic, Seq(PurgeKey))

    // ---- quiescent audit with a fresh group over the final generation
    store.registry.register("audit", "a", Seq(topic), store.StartFrom.Earliest)
    val rows = store.withTopicReads(topic) {
      store.poll("audit", topic, "a").collect()
    }
    // offsets are distinct PER (generation, partition): with the
    // metadata-only rescale each record stays in its birth generation,
    // and offset spaces restart per generation
    rows.groupBy(r => (r.getAs[Int]("version"), r.getAs[Int]("part"))).foreach {
      case ((v, p), rs) =>
        val offs = rs.map(_.getAs[Long]("offset"))
        assert(offs.distinct.length == offs.length,
          s"gen $v partition $p double-delivered at identical offsets")
    }
    val delivered = rows.map(r =>
      (r.getAs[String]("key"), new String(r.getAs[Array[Byte]]("value"), "UTF-8"),
        (r.getAs[Int]("version"), r.getAs[Int]("part"), r.getAs[Long]("offset"))))
    assert(!delivered.exists(_._1 == PurgeKey), "purged key leaked into the audit read")
    val expected = acked.toMap - PurgeKey
    val deliveredByKey = delivered.groupBy(_._1)
    assert(deliveredByKey.keySet == expected.keySet,
      s"key sets differ: missing=${expected.keySet -- deliveredByKey.keySet} " +
        s"extra=${deliveredByKey.keySet -- expected.keySet}")
    // exactly once + per-key produce order == lineage order: a key maps
    // to one partition per generation, so its records are totally
    // ordered by (version, part, offset) — the delivery contract across
    // rescales (§2.6.1 + lineage)
    deliveredByKey.foreach { case (k, vs) =>
      assert(vs.sortBy(_._3).map(_._2).toVector == expected(k),
        s"key $k: delivered ${vs.length} records, order/body mismatch vs produce order")
    }

    // ---- pair-group drain: round-robin BOTH members (the gate serves a
    // drained member empty pages while its sibling lags — by design), then
    // require the union to cover every surviving record the audit saw. A
    // gate lockout (a member fenced out of ancestor lag it still owns)
    // shows up here as permanently-missing records.
    var idle = 0
    var spins = 0
    while (idle < 6 && spins < 400) {
      val n = pairPoll("p-a") + pairPoll("p-b")
      if (n == 0) idle += 1 else idle = 0
      spins += 1
    }
    val missing = delivered.map(_._3).toSet -- pairSeen.keySet
    assert(missing.isEmpty,
      s"pair group never delivered ${missing.size} surviving records — gate lockout")
  }

  test("topology-watcher-driven rescales compose with live produce") {
    // the r6 C5 supplier path under fire: a fast-flapping desired-replicas
    // feed drives rescales FROM THE WATCHER'S POLL LOOP (normalization,
    // error-swallow, listTopics walk) while a producer streams keyed
    // batches. The delivery contract must hold exactly as it does for
    // direct rescale calls — the watcher adds no third serialization
    // domain, it rides the produce plane like everyone else.
    val store = new TopicStore(
      spark, Files.createTempDirectory("graft-chaos-topo").toString)
    val topic = "t"
    store.produceStrings(topic, Seq(("seed", "seed#0", ts(0))))
    val errors = TrieMap.empty[String, Throwable]
    val acked = TrieMap.empty[String, Vector[String]]
    val desired = new AtomicInteger(3)
    val watcher = new graft.engine.TopologyWatcher(
      store, () => Some(desired.get()), pollDelayMs = 30L)
    val handle = watcher.start()
    val flapper = new Thread(() => try {
      for (size <- Seq(6, 12, 3, 6)) { desired.set(size); Thread.sleep(150) }
    } catch { case t: Throwable => errors.put("flapper", t); () }, "flapper")
    val producer = new Thread(() => try {
      for (b <- 0 until 12) {
        val rows = (0 until 10).map { i =>
          val key = s"k${(b * 10 + i) % 8}"
          (key, s"$key#$b-$i", ts(b * 10 + i))
        }
        store.produceStrings(topic, rows)
        rows.foreach { case (k, v, _) =>
          acked.updateWith(k)(old => Some(old.getOrElse(Vector.empty) :+ v)); ()
        }
      }
    } catch { case t: Throwable => errors.put("producer", t); () }, "producer")
    flapper.start(); producer.start()
    producer.join(300000); flapper.join(300000)
    // let the watcher catch up to the final desired size, then stop it
    val deadline = System.currentTimeMillis() + 20000
    while (store.generation(topic).clusterSize != 6 &&
      System.currentTimeMillis() < deadline) Thread.sleep(50)
    handle.close()
    assert(errors.isEmpty,
      s"chaos threads must not throw: ${errors.toMap.view.mapValues(_.toString).toMap}")
    assert(store.generation(topic).clusterSize == 6,
      s"watcher never converged: ${store.generation(topic)} (err=${watcher.lastFailure})")
    // audit: every acked record delivered exactly once, per-key order
    store.registry.register("taud", "a", Seq(topic), store.StartFrom.Earliest)
    val rows = store.withTopicReads(topic) {
      store.poll("taud", topic, "a").collect()
    }
    val delivered = rows.map(r =>
      (r.getAs[String]("key"), new String(r.getAs[Array[Byte]]("value"), "UTF-8"),
        (r.getAs[Int]("version"), r.getAs[Int]("part"), r.getAs[Long]("offset"))))
      .filter(_._1 != "seed")
    val byKey = delivered.groupBy(_._1)
    assert(byKey.keySet == acked.keySet)
    byKey.foreach { case (k, vs) =>
      assert(vs.sortBy(_._3).map(_._2).toVector == acked(k),
        s"key $k: delivered ${vs.length}, order/body mismatch under watcher rescales")
    }
  }
}
