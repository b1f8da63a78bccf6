package perfbench

import java.nio.ByteBuffer
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicIntegerArray, AtomicLong, AtomicLongArray}
import java.util.concurrent.locks.LockSupport

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.model._
import graft.sources.GraftBroker
import graft.streaming._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Payload layout: seq (8 bytes), due time in nanoTime (8 bytes), filler. */
object Payload {
  def seqOf(p: Array[Byte]): Long =
    if (p == null || p.length < 8) -1L else ByteBuffer.wrap(p, 0, 8).getLong

  def make(seq: Long, dueNs: Long, filler: Array[Byte]): Array[Byte] = {
    val p = filler.clone()
    val b = ByteBuffer.wrap(p)
    b.putLong(seq); b.putLong(dueNs)
    p
  }
}

/** The consumer's verdicts: a pure function of (seed, seq, retry count), so
  * every routed count is known before the run starts. */
object Verdicts {
  val Ok = 0; val Tier1 = 1; val Tier2 = 2; val Dlq = 3

  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  /** ~1% straight to the DLQ, ~10% retried once of which ~20% twice. */
  def path(seed: Long, seq: Long): Int = {
    val h = mix(seed * 0x632BE59BD9B4E019L ^ seq)
    val u = unit(h)
    if (u < 0.01) Dlq
    else if (u < 0.11) { if (unit(mix(h)) < 0.20) Tier2 else Tier1 }
    else Ok
  }

  def status(path: Int, retryCount: Long): String = path match {
    case Dlq if retryCount == 0 => GrpcStatus.FAILED_PRECONDITION
    case Tier1 if retryCount == 0 => GrpcStatus.RESOURCE_EXHAUSTED
    case Tier2 if retryCount <= 1 => GrpcStatus.RESOURCE_EXHAUSTED
    case _ => GrpcStatus.OK
  }

  /** Deliveries the consumer should see for a message on this path. */
  def deliveries(path: Int): Int = path match {
    case Tier1 => 2
    case Tier2 => 3
    case _ => 1
  }
}

/** What the consumer saw, per sequence number (JVM-global: the consumer
  * server's connection threads write it). */
object ConsumerLog {
  @volatile var firstNs = new AtomicLongArray(1)
  @volatile var okNs = new AtomicLongArray(1)
  @volatile var arrivals = new AtomicIntegerArray(1)
  val bad = new AtomicLong(0L)

  def init(cap: Int): Unit = {
    firstNs = new AtomicLongArray(cap); okNs = new AtomicLongArray(cap)
    arrivals = new AtomicIntegerArray(cap); bad.set(0L)
  }

  def arrive(seq: Long, ok: Boolean, now: Long): Unit =
    if (seq < 0 || seq >= arrivals.length) { bad.incrementAndGet(); () }
    else {
      val i = seq.toInt
      arrivals.incrementAndGet(i)
      firstNs.compareAndSet(i, 0L, now)
      if (ok) okNs.compareAndSet(i, 0L, now)
      ()
    }
}

/** Routed rows go back into the broker through graft-queue's DSv2 batch
  * writer, one per-row-topic write per micro-batch. */
object BrokerStore extends QueueStore {
  val writes = new ConcurrentLinkedQueue[(Long, Double)]()

  def produce(outcomes: Dataset[ForwardingEngine.Outcome]): Unit = {
    val batch = Option(outcomes.sparkSession.sparkContext.getLocalProperty("streaming.sql.batchId"))
      .map(_.toLong).getOrElse(-1L)
    val t0 = System.nanoTime()
    Trace.span("sources.sink_write", parent = s"batch:$batch") {
      outcomes.filter(col("destination") =!= "")
        .select(col("destination").as("topic"), col("outKey").as("key"), col("outValue").as("value"))
        .write.format("graft-queue").mode("append").save()
    }
    if (Trace.on) writes.add((batch, (System.nanoTime() - t0) / 1e6))
    ()
  }
}

/**
 * Open-loop load: one thread on a fixed 10 ms schedule appends every record
 * due by each tick. The rate ramps linearly from a quarter of the target to
 * the target over `rampSec`, then holds. A record's due time is its tick's
 * scheduled time, so a late tick shows in every latency it delays.
 */
final class Generator(seed: Long, rate: Int, rampSec: Double, payloadBytes: Int,
    topic: String, partitions: Int, cap: Int) extends Thread("perfbench-generator") {
  setDaemon(true)
  val TickNs = 10000000L
  private val numKeys = 10000
  private val keyBytes = Array.tabulate(numKeys)(i => f"key-$i%05d".getBytes("UTF-8"))
  /** Zipf(1.0) over the key space. */
  private val cdf = {
    val w = Array.tabulate(numKeys)(i => 1.0 / (i + 1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  private val filler = {
    val r = new java.util.Random(seed)
    val b = new Array[Byte](math.max(16, payloadBytes)); r.nextBytes(b); b
  }

  val dueNs = new Array[Long](cap)
  val part = new Array[Int](cap)
  val offset = new Array[Long](cap)
  val tsMs = new Array[Long](cap)
  val keyOf = new Array[Int](cap)
  private val nextOffset = new Array[Long](partitions)

  val ticks = new ConcurrentLinkedQueue[Generator.Tick]()

  @volatile var emitted: Int = 0
  @volatile var startNs: Long = 0L
  @volatile private var stopRequested = false
  @volatile var failure: Option[Throwable] = None

  def key(seq: Int): Array[Byte] = keyBytes(keyOf(seq))

  /** Records due `t` seconds after start. */
  private def cumulative(t: Double): Long = {
    val q = 0.25
    if (t < rampSec) (rate * (q * t + (1 - q) * t * t / (2 * rampSec))).toLong
    else (rate * ((1 + q) / 2 * rampSec + (t - rampSec))).toLong
  }

  private def keyIndex(seq: Int): Int = {
    val u = (Verdicts.mix(seed ^ (seq.toLong << 20)) >>> 11).toDouble / (1L << 53).toDouble
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(numKeys - 1, if (i >= 0) i else -i - 1)
  }

  def requestStop(): Unit = stopRequested = true

  /** Records scheduled before the ramp began (the priming bursts). */
  @volatile private var base = 0

  /** Append every record up to `target`, all due at `due`. */
  private def emitTo(target: Int, due: Long): Unit = {
    var s = emitted
    while (s < target) {
      val ki = keyIndex(s)
      keyOf(s) = ki
      val p = math.floorMod(java.util.Arrays.hashCode(keyBytes(ki)), partitions)
      part(s) = p
      dueNs(s) = due
      byPart(p) += ((keyBytes(ki), Payload.make(s.toLong, due, filler)))
      seqsByPart(p) += s
      s += 1
    }
    val ts = System.currentTimeMillis()
    val a0 = System.nanoTime()
    Trace.span("sources.append") {
      var p = 0
      while (p < partitions) {
        if (byPart(p).nonEmpty) {
          var o = nextOffset(p)
          seqsByPart(p).foreach { q => offset(q) = o; tsMs(q) = ts; o += 1 }
          GraftBroker.produceAll(topic, p, byPart(p), ts)
          nextOffset(p) = o
          byPart(p).clear(); seqsByPart(p).clear()
        }
        p += 1
      }
    }
    val done = System.nanoTime()
    ticks.add(Generator.Tick(due, done, done - a0))
    emitted = target
  }
  private val byPart = Array.fill(partitions)(ArrayBuffer.empty[(Array[Byte], Array[Byte])])
  private val seqsByPart = Array.fill(partitions)(ArrayBuffer.empty[Int])

  /** Append `n` records at once, before the open loop starts. */
  def prime(n: Int): Unit = { emitTo(emitted + n, System.nanoTime()); base = emitted }

  override def run(): Unit = try {
    var k = 0L
    while (!stopRequested) {
      val due = startNs + k * TickNs
      var now = System.nanoTime()
      while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      emitTo(math.min(cap.toLong, base + cumulative(k * TickNs / 1e9)).toInt, due)
      k += 1
    }
  } catch { case e: Throwable => failure = Some(e) }
}

object Generator {
  final case class Tick(dueNs: Long, doneNs: Long, appendNs: Long)
}

object Forward {
  val Rate = 4000
  val PayloadBytes = 4096
  val Partitions = 8
  val PrimeRounds = 2
  val PrimeRecords = 4000
  val RampSec = 3.0
  // load held at the full rate before the window opens: with a 3 s hold the
  // per-second p50 was still falling through the window (JIT)
  val HoldSec = 10.0
  val TriggerMs = 1000L
  val Topic = "perfbench_fwd"
  val Group = "perfbench"
  val Tier1 = TopicNames.retry(Topic, Group, 1)
  val Tier2 = TopicNames.retry(Topic, Group, 2)
  val DlqTopic = TopicNames.dlq(Topic, Group)

  val Spec: JobSpec = JobSpec(
    jobGroupId = s"${Topic}__$Group", cluster = "local", topic = Topic, consumerGroup = Group,
    rpc = RpcSpec("tcp://127.0.0.1", s"kafka.consumerproxy.$Group/$Topic",
      rpcTimeoutMs = 10000L, dlqTopic = DlqTopic),
    retryEnabled = true,
    retryTiers = Seq(RetryTier(Tier1, 1000L, 1), RetryTier(Tier2, 2000L, 1)))

  val Topics = Seq(Topic, Tier1, Tier2, DlqTopic)

  /** Key, value and header bytes the in-process broker holds, all topics. */
  def brokerBytes(): Long = Topics.map { t =>
    GraftBroker.endOffsets(t).map { case (p, end) =>
      GraftBroker.fetch(t, p, 0L, end).map { r =>
        Option(r.key).fold(0L)(_.length.toLong) + r.value.length + r.headers.map(_._2.length.toLong).sum
      }.sum
    }.sum
  }.sum

  /** A measured window: [startNs, endNs) of due times. */
  final case class Window(startNs: Long, endNs: Long) {
    def has(t: Long): Boolean = t >= startNs && t < endNs
  }

  def run(spark: SparkSession, seed: Long, seconds: Int, traced: Boolean,
      work: java.nio.file.Path, launchMs: Long): Outcome = {
    val windows = if (traced) 2 else 1
    val totalSec = RampSec + HoldSec + windows * seconds + 30
    val cap = (Rate * totalSec).toInt + PrimeRounds * PrimeRecords
    GraftBroker.reset()
    Topics.foreach(GraftBroker.createTopic(_, Partitions))
    ConsumerLog.init(cap)
    val server = new SocketConsumerServer(req => {
      val now = System.nanoTime()
      val seq = Payload.seqOf(req.payload)
      val rc = req.headers.get("kafka-retrycount").map(_.toLong).getOrElse(-1L)
      val status =
        if (rc < 0) GrpcStatus.INVALID_ARGUMENT
        else Verdicts.status(Verdicts.path(seed, seq), rc)
      ConsumerLog.arrive(seq, status == GrpcStatus.OK, now)
      DispatchResult(status, None, overdue = false)
    })
    val nproc = spark.sparkContext.defaultParallelism
    val base = PipelinedSocketDispatcherFactory("127.0.0.1", server.port, Spec.rpc.rpcTimeoutMs, connections = 1)
    val factory: DispatcherFactory = if (traced) TracedDispatcherFactory(base) else base
    val committer = new OffsetCommitter(new BrokerCommitTarget, Group)
    if (traced) {
      BatchTrace.mainTopic = Topic
      spark.streams.addListener(BatchTrace)
      spark.sparkContext.addSparkListener(SparkTrace)
    }
    val stream = QueueJobs.liveStream(spark, Spec, TriggerMs / 1000.0, "earliest")
    Main.log("consumer up, starting the stream")
    val q = ForwardingEngine.run(Spec, factory, "local", stream, BrokerStore,
      work.resolve("checkpoint").toString, "perfbench_forward",
      Trigger.ProcessingTime(TriggerMs), Some(committer))
    val gen = new Generator(seed, Rate, RampSec, PayloadBytes, Topic, Partitions, cap)
    val out = try {
      // the first batches of a fresh stream run cold (class loading, JIT,
      // codegen); pay that on priming bursts so the ramp meets a warm engine
      (1 to PrimeRounds).foreach { _ =>
        val from = gen.emitted
        gen.prime(PrimeRecords)
        awaitOrFail("a priming burst", 60000L) {
          (from until gen.emitted).forall(s => ConsumerLog.firstNs.get(s) != 0L)
        }
      }
      Main.log("primed, starting the generator")
      gen.startNs = System.nanoTime() + 20000000L
      gen.start()
      val s0 = gen.startNs + ((RampSec + HoldSec) * 1e9).toLong
      val win = (0 until windows).map(i => Window(s0 + i * seconds * 1000000000L, s0 + (i + 1) * seconds * 1000000000L))
      def sleepUntil(t: Long): Unit = {
        var now = System.nanoTime()
        while (now < t) {
          LockSupport.parkNanos(math.min(t - now, 50000000L)); now = System.nanoTime()
          if (q.exception.isDefined) throw q.exception.get
          gen.failure.foreach(e => throw e)
        }
      }
      sleepUntil(s0)
      Main.log("warm-up done, measuring")
      val setupS = (System.currentTimeMillis() - launchMs) / 1000.0
      val cpu = ArrayBuffer(Stats.cpuNanos())
      val jit = ArrayBuffer(Stats.jitCpuNanos()); val gc = ArrayBuffer(Stats.gcMs())
      val lagSamples = ArrayBuffer.empty[(Double, Double)]
      win.zipWithIndex.foreach { case (w, i) =>
        if (traced && i == windows - 1) {
          Trace.on = true
          // read lag: appended but not yet planned into a batch; commit lag:
          // appended but not yet committed by the consumer group
          while (System.nanoTime() < w.endNs) {
            val appended = gen.emitted.toDouble
            val committed = (0 until Partitions).map(p => GraftBroker.committed(Group, Topic, p).getOrElse(0L)).sum
            lagSamples += ((appended - BatchTrace.plannedMain, appended - committed))
            LockSupport.parkNanos(50000000L)
          }
        }
        sleepUntil(w.endNs)
        cpu += Stats.cpuNanos(); jit += Stats.jitCpuNanos(); gc += Stats.gcMs()
      }
      val lastEnd = win.last.endNs
      // keep the load on until every windowed message has been seen once,
      // then stop offering and drain
      val windowed = (0 until gen.emitted).filter(s => gen.dueNs(s) < lastEnd && gen.dueNs(s) >= win.head.startNs)
      awaitOrFail("first delivery of every windowed message", 60000L) {
        gen.failure.foreach(e => throw e)
        windowed.forall(s => ConsumerLog.firstNs.get(s) != 0L)
      }
      Trace.on = false
      // the engine's memory while it still runs at the measured rate; the
      // broker stands in for Kafka, so the records it holds do not count
      val heap = Stats.liveHeapMb(brokerBytes)
      Main.log("windowed messages delivered, draining")
      gen.requestStop(); gen.join(10000L)
      val n = gen.emitted
      val paths = Array.tabulate(n)(s => Verdicts.path(seed, s.toLong))
      awaitOrFail("every expected delivery", 90000L) {
        (0 until n).forall(s => ConsumerLog.arrivals.get(s) >= Verdicts.deliveries(paths(s)))
      }
      awaitOrFail("the stream to catch up and go idle", 30000L) {
        if (q.exception.isDefined) throw q.exception.get
        caughtUp(q)
      }
      Main.log("drained, stopping the stream")
      q.stop()
      // commits ride on batches at a 1 s cadence; a graceful stop flushes
      // the last acked watermark once the cadence allows
      Thread.sleep(TriggerMs + 50)
      committer.tick()
      val report = new Report(gen, paths, n, win, cpu.toSeq, jit.toSeq, gc.toSeq,
        setupS, heap, nproc, committer, traced, lagSamples.toSeq)
      report.outcome()
    } finally {
      gen.requestStop()
      if (q.isActive) q.stop()
      server.close()
      if (traced) {
        spark.streams.removeListener(BatchTrace)
        spark.sparkContext.removeSparkListener(SparkTrace)
      }
    }
    out
  }

  private def awaitOrFail(what: String, timeoutMs: Long)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      if (System.currentTimeMillis() > deadline) throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(50)
    }
  }

  private def caughtUp(q: StreamingQuery): Boolean = {
    val lp = q.lastProgress
    if (lp == null || q.status.isTriggerActive) return false
    val ends = lp.sources.toSeq.flatMap(s => Option(s.endOffset))
      .map(graft.sources.GraftQueue.offsetsFromJson).foldLeft(Map.empty[String, Map[Int, Long]])(_ ++ _)
    Seq(Topic, Tier1, Tier2).forall { t =>
      GraftBroker.endOffsets(t).forall { case (p, e) => ends.getOrElse(t, Map.empty).getOrElse(p, 0L) == e }
    }
  }

  /** Output checks and metrics of one forwarding run. */
  final class Report(gen: Generator, paths: Array[Int], n: Int,
      win: Seq[Window], cpu: Seq[Long], jit: Seq[Long], gc: Seq[Long], setupS: Double, heap: Double,
      nproc: Int, committer: OffsetCommitter, traced: Boolean, lagSamples: Seq[(Double, Double)]) {
    private val failures = ArrayBuffer.empty[String]
    private var failed = 0L
    private def fail(n: Long, why: => String): Unit = if (n > 0) {
      failed += n
      if (failures.size < 20) failures += s"$why ($n)"
    }

    private def checkDeliveries(): Unit = {
      var undelivered = 0L; var notAcked = 0L
      (0 until n).foreach { s =>
        if (ConsumerLog.firstNs.get(s) == 0L) undelivered += 1
        else if (paths(s) != Verdicts.Dlq && ConsumerLog.okNs.get(s) == 0L) notAcked += 1
      }
      fail(undelivered, "messages never delivered")
      fail(notAcked, "messages never delivered with an OK verdict")
      fail(ConsumerLog.bad.get(), "requests without a valid seq or retry count")
    }

    /** Decode every routed record and compare it with what the verdict
      * function predicts. Returns the codec time per record (ns). */
    private def checkRouted(): Double = {
      val expectRetry = Array(Verdicts.Tier1, Verdicts.Tier2)
      var codecNs = 0L; var codecN = 0L
      def check(topic: String, want: Int => Boolean, retryCount: Long): Unit = {
        val recs = (0 until Partitions).flatMap { p =>
          GraftBroker.fetch(topic, p, 0L, GraftBroker.endOffsets(topic)(p))
        }
        val expected = (0 until n).count(s => want(paths(s)))
        if (recs.size != expected)
          fail(math.abs(recs.size - expected).toLong, s"$topic holds ${recs.size} records, verdicts predict $expected")
        var bad = 0L
        recs.foreach { r =>
          val seq = Payload.seqOf(r.value)
          val t0 = System.nanoTime()
          val meta = DlqMetadata.decode(r.key)
          meta.foreach(DlqMetadata.encode)
          codecNs += System.nanoTime() - t0; codecN += 1
          val ok = seq >= 0 && seq < n && want(paths(seq.toInt)) && meta.exists { m =>
            val s = seq.toInt
            m.retryCount == retryCount && m.topic == Topic && m.partition == gen.part(s) &&
              m.offset == gen.offset(s) && m.timestampNs == gen.tsMs(s) * 1000000L &&
              java.util.Arrays.equals(m.data, gen.key(s)) && m.timeoutCount == 0L
          }
          if (!ok) bad += 1
        }
        fail(bad, s"$topic records whose DlqMetadata or seq disagree with the verdicts")
      }
      check(Tier1, p => expectRetry.contains(p), 1L)
      check(Tier2, _ == Verdicts.Tier2, 2L)
      check(DlqTopic, _ == Verdicts.Dlq, 1L)
      if (codecN == 0) 0.0 else codecNs.toDouble / codecN
    }

    private def checkCommits(): Unit = {
      var behind = 0L
      Seq(Topic, Tier1, Tier2).foreach { t =>
        GraftBroker.endOffsets(t).foreach { case (p, end) =>
          val broker = GraftBroker.committed(Group, t, p).getOrElse(0L)
          val engine = committer.committedOffsets.getOrElse((t, p), if (end == 0) 0L else -1L)
          if (broker != end || engine != end) behind += 1
        }
      }
      fail(behind, "partitions whose committed offset is not the end offset after the drain")
    }

    def outcome(): Outcome = {
      checkDeliveries()
      val codecNs = checkRouted()
      checkCommits()
      gen.failure.foreach(e => fail(1, s"generator failed: $e"))
      // JIT compilation is excluded from the CPU figure: a process this young
      // is still compiling, and that time swamps the per-message cost
      def windowMetrics(w: Window, i: Int): ListMap[String, Double] = {
        val cpuNs = (cpu(i + 1) - cpu(i)) - (jit(i + 1) - jit(i))
        val inWin = (0 until n).filter(s => w.has(gen.dueNs(s)))
        val lat = inWin.map(s => (ConsumerLog.firstNs.get(s) - gen.dueNs(s)) / 1e6).toArray
        ListMap(
          "latency_p50_ms" -> Stats.percentile(lat, 50),
          "latency_p99_ms" -> Stats.percentile(lat, 99),
          "cpu_ms_per_op" -> cpuNs / 1e6 / math.max(1, inWin.size))
      }
      val perWindow = win.indices.map(i => windowMetrics(win(i), i))
      val w0 = win.head
      val inW0 = (0 until n).filter(s => w0.has(gen.dueNs(s)))
      val redeliver = inW0.filter(s => paths(s) == Verdicts.Tier1 || paths(s) == Verdicts.Tier2)
        .map(s => (ConsumerLog.okNs.get(s) - gen.dueNs(s)) / 1e6)
      val lateMs = gen.ticks.asScala.filter(t => w0.has(t.dueNs)).map(t => (t.doneNs - t.dueNs) / 1e6)
      val w0m = perWindow.head
      val e2e = w0m ++ ListMap("live_heap_mb" -> heap, "setup_s" -> setupS)
      val detail = ListMap[String, Any](
        "nproc" -> nproc,
        "offered_msgs_per_s" -> Rate,
        "payload_bytes" -> PayloadBytes,
        "trigger_ms" -> TriggerMs,
        "deliver_p50_ms" -> e2e("latency_p50_ms"),
        "deliver_p99_ms" -> e2e("latency_p99_ms"),
        "deliver_samples" -> inW0.size,
        "deliver_samples_beyond_p99" -> Stats.beyond(inW0.size, 99),
        "redeliver_p50_ms" -> Stats.percentile(redeliver.toArray, 50),
        "redeliver_samples" -> redeliver.size,
        // first deliveries landing inside the window, per second: equals the
        // offered rate while no backlog builds (±1 batch of quantization)
        "delivered_msgs_per_s" -> (0 until n).count(s => w0.has(ConsumerLog.firstNs.get(s))) / ((w0.endNs - w0.startNs) / 1e9),
        "cpu_us_per_msg" -> w0m("cpu_ms_per_op") * 1000.0,
        "cpu_us_per_msg_with_jit" -> (cpu(1) - cpu(0)) / 1e3 / math.max(1, inW0.size),
        "jit_cpu_ms_in_window" -> (jit(1) - jit(0)) / 1e6,
        "gc_ms_in_window" -> (gc(1) - gc(0)),
        "gen.late_ms_max" -> (if (lateMs.isEmpty) 0.0 else lateMs.max),
        "messages" -> n,
        // p50 first-delivery latency per second of due time since load start
        "p50_ms_by_second" -> (0 until n).groupBy(s => ((gen.dueNs(s) - gen.startNs) / 1000000000L).toInt)
          .toSeq.sortBy(_._1).map { case (_, ss) =>
            math.rint(Stats.percentile(ss.map(s => (ConsumerLog.firstNs.get(s) - gen.dueNs(s)) / 1e6).toArray, 50))
          },
        "failed_share" -> failed.toDouble / math.max(1, n),
        "failures" -> failures.toList)
      val layers = if (traced) perLayer(win.last, codecNs, lateMs) ++ overhead(perWindow) else ListMap.empty[String, Double]
      Outcome(failed == 0, n.toLong, failed, e2e, layers, detail)
    }

    private def overhead(perWindow: Seq[ListMap[String, Double]]): ListMap[String, Double] = {
      val (a, b) = (perWindow.head, perWindow.last)
      ListMap(Seq("latency_p50_ms", "latency_p99_ms", "cpu_ms_per_op").map { k =>
        s"trace.overhead.$k" -> (b(k) - a(k)) / a(k)
      }: _*)
    }

    private def perLayer(w: Window, codecNs: Double, lateMs: Iterable[Double]): ListMap[String, Double] = {
      SparkTrace.settle()
      val wStartMs = System.currentTimeMillis() - (System.nanoTime() - w.startNs) / 1000000L
      val wEndMs = wStartMs + (w.endNs - w.startNs) / 1000000L
      val batches = BatchTrace.batches.asScala.filter(b => b.startMs >= wStartMs && b.startMs < wEndMs).toSeq
      val ids = batches.map(_.id).toSet
      def d(b: BatchTrace.Batch, k: String) = b.durations.getOrElse(k, 0L).toDouble
      val jobs = SparkTrace.jobs.values.asScala.filter(j => ids.exists(id => j.parent == s"batch:$id")).toSeq
      val jobsPerBatch = batches.map(b => jobs.count(_.parent == s"batch:${b.id}").toDouble)
      val stageByJob = SparkTrace.stages.asScala.groupBy(_.job)
      val tasksPerBatch = batches.map(b => jobs.filter(_.parent == s"batch:${b.id}")
        .flatMap(j => stageByJob.getOrElse(j.id, Nil)).map(_.tasks).sum.toDouble)
      val writes = BrokerStore.writes.asScala.filter(x => ids.contains(x._1)).map(_._2).toSeq
      val inW = (0 until n).filter(s => w.has(gen.dueNs(s)))
      val dispatches = inW.map(s => ConsumerLog.arrivals.get(s).toDouble).sum /
        math.max(1.0, inW.map(s => Verdicts.deliveries(paths(s)).toDouble).sum)
      val ticks = gen.ticks.asScala.filter(t => w.has(t.dueNs)).toSeq
      val appended = inW.size
      val rtt = DispatchLog.rttsUs
      SparkTrace.toSpans()
      ListMap(
        // Spark reports phase times in whole ms and planning takes ~1 ms:
        // a median would read the same on every run, so take the mean
        "sources.plan_ms_mean" -> batches.map(b => d(b, "latestOffset") + d(b, "getBatch")).sum / math.max(1, batches.size),
        "sources.read_lag_msgs_p99" -> Stats.percentile(lagSamples.map(_._1), 99),
        "sources.append_us_per_msg" -> ticks.map(_.appendNs).sum / 1e3 / math.max(1, appended),
        "sources.sink_write_ms_p50" -> Stats.median(writes),
        "sources.retry_rows" -> (GraftBroker.endOffsets(Tier1).values.sum + GraftBroker.endOffsets(Tier2).values.sum).toDouble,
        "sources.dlq_rows" -> GraftBroker.endOffsets(DlqTopic).values.sum.toDouble,
        "streaming.batch_ms_p50" -> Stats.median(batches.map(d(_, "triggerExecution"))),
        "streaming.batch_ms_p99" -> Stats.percentile(batches.map(d(_, "triggerExecution")), 99),
        "streaming.add_batch_ms_p50" -> Stats.median(batches.map(d(_, "addBatch"))),
        "streaming.checkpoint_ms_p50" -> Stats.median(batches.map(b => d(b, "walCommit") + d(b, "commitOffsets"))),
        "streaming.rows_per_batch" -> Stats.median(batches.map(_.rows.toDouble)),
        "streaming.jobs_per_batch" -> Stats.median(jobsPerBatch),
        "streaming.tasks_per_batch" -> Stats.median(tasksPerBatch),
        "streaming.dispatch_rtt_us_p50" -> Stats.percentile(rtt, 50),
        "streaming.dispatch_rtt_us_p99" -> Stats.percentile(rtt, 99),
        "streaming.dispatches_per_msg" -> dispatches,
        "streaming.commit_lag_msgs_p99" -> Stats.percentile(lagSamples.map(_._2), 99),
        "streaming.batches" -> batches.size.toDouble,
        "model.dlq_codec_ns_per_rec" -> codecNs,
        "gen.late_ms_max" -> (if (lateMs.isEmpty) 0.0 else lateMs.max))
    }
  }
}
