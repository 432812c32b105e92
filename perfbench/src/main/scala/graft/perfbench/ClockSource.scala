package graft.perfbench

import java.util
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The open-loop event generator behind `stream-keyed`.
  *
  * Event i is due at `origin + i / rate` (wall clock) and carries event
  * time `TsBaseUs + i * stepUs`, where `stepUs = 1e6 * Speedup / rate`:
  * event time replays Speedup times faster than wall time, so the
  * reference's 15 s click windows close every 0.375 s of wall time:
  * several per run, at offsets that cycle through the 1 s trigger
  * period instead of sharing one alignment. The
  * latest offset is the number of events due at the moment the engine
  * asks (millisecond clock), so release never waits for the engine and
  * a slow engine finds a larger backlog, not a slower generator. Every
  * field is a pure function of (seed, i): the checker regenerates the
  * exact events the engine saw. */
object Gen {
  val TsBaseUs = 1704067200000000L // 2024-01-01T00:00:00Z
  val Speedup = 40L
  val Kinds: Array[String] = Array("A", "B", "C", "D")

  final case class Params(rate: Long, keys: Long, seed: Long, originMs: Long) {
    val stepUs: Long = 1000000L * Speedup / rate
    def tsUs(i: Long): Long = TsBaseUs + i * stepUs
    def dueMs(i: Long): Double = originMs + i * 1000.0 / rate
    def dueCount(nowMs: Long): Long = math.max(0L, (nowMs - originMs) * rate / 1000L)
    /** Event-time microseconds to the wall-clock ms it was due. */
    def dueOfTs(tsUs: Long): Double = originMs + (tsUs - TsBaseUs) / 1000.0 / Speedup
    // keys visit in a seed-chosen fixed order, once per `keys` events,
    // so two events of one key are always `keys * stepUs` apart
    private val mult = {
      var a = (mix(seed, -1L) >>> 1) % keys
      while (a < 2 || gcd(a, keys) != 1) a = (a + 1) % keys
      a
    }
    private val offset = (mix(seed, -2L) >>> 1) % keys
    def key(i: Long): Long = ((i % keys) * mult + offset) % keys
    def kind(i: Long): String = Kinds(((mix(seed, i) >>> 33) & 3L).toInt)
    def value(i: Long): Double = ((mix(seed, i) >>> 40) & 0xFFFFFFL) / 16777216.0 * 100.0
  }

  private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)

  /** SplitMix64 finaliser over (seed, i). */
  def mix(seed: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + 0x632BE59BD9B4E019L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  val schema: StructType = new StructType()
    .add("key", LongType, nullable = false).add("ts", TimestampType, nullable = false)
    .add("kind", StringType, nullable = false).add("value", DoubleType, nullable = false)
}

/** Per-source state shared between the source and the benchmark thread: the
  * release cap (set when a phase ends) and how late releases ran. */
final class ClockState {
  @volatile var cap: Long = Long.MaxValue
  @volatile var maxLateMs: Double = 0.0
}

object ClockSource {
  val states = new ConcurrentHashMap[String, ClockState]()
}

class ClockSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = Gen.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val o = new CaseInsensitiveStringMap(properties)
    val p = Gen.Params(o.get("rate").toLong, o.get("keys").toLong, o.get("seed").toLong,
      o.get("originMs").toLong)
    new ClockTable(p, ClockSource.states.get(o.get("id")), o.get("partitions").toInt)
  }
}

private class ClockTable(p: Gen.Params, st: ClockState, parts: Int)
    extends Table with SupportsRead {
  override def name(): String = "perfbench_clock"
  override def schema(): StructType = Gen.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = () => new Scan {
    override def readSchema(): StructType = Gen.schema
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
      new ClockStream(p, st, parts)
  }
}

private case class EventCount(n: Long) extends Offset {
  override def json(): String = n.toString
}

private case class EventRange(p: Gen.Params, start: Long, end: Long) extends InputPartition

private class ClockStream(p: Gen.Params, st: ClockState, parts: Int) extends MicroBatchStream {
  override def initialOffset(): Offset = EventCount(0L)
  override def latestOffset(): Offset = {
    val now = System.currentTimeMillis()
    val n = math.min(p.dueCount(now), st.cap)
    if (n > 0 && n < st.cap) st.maxLateMs = math.max(st.maxLateMs, now - p.dueMs(n - 1))
    EventCount(n)
  }
  override def deserializeOffset(json: String): Offset = EventCount(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[EventCount].n
    val e = end.asInstanceOf[EventCount].n
    val step = math.max(1L, (e - s + parts - 1) / parts)
    (s until e by step).map(a => EventRange(p, a, math.min(e, a + step)): InputPartition).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory = new PartitionReaderFactory {
    override def createReader(part: InputPartition): PartitionReader[InternalRow] = {
      val r = part.asInstanceOf[EventRange]
      new PartitionReader[InternalRow] {
        private var i = r.start - 1
        override def next(): Boolean = { i += 1; i < r.end }
        override def get(): InternalRow = new GenericInternalRow(Array[Any](
          r.p.key(i), r.p.tsUs(i), UTF8String.fromString(r.p.kind(i)), r.p.value(i)))
        override def close(): Unit = ()
      }
    }
  }
}
