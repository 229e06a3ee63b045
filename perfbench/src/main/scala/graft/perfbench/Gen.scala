package graft.perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** One event in the events shape the reference ingests: partitioned by
  * `user_id`, clustered by `ts_us`. `(user_id, ts_us)` is unique across a
  * generated stream, so it doubles as the row key for upserts and merges.
  */
final case class Event(user_id: String, ts_us: Long, event_type: String,
                       value: Double, props: String) {
  def row: Row = Row(user_id, ts_us, event_type, value, props)
}

object Event {
  val schema: StructType = StructType(Seq(
    StructField("user_id", StringType, nullable = false),
    StructField("ts_us", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("props", StringType, nullable = false)))

  def of(r: Row): Event =
    Event(r.getString(0), r.getLong(1), r.getString(2), r.getDouble(3), r.getString(4))

  /** Order used to compare result sets as multisets. */
  val ordering: Ordering[Event] = Ordering.by((e: Event) => (e.user_id, e.ts_us))
}

/** Zipf(s) sampler over ranks 0 until n by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / tot }
  }
  def sample(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** Seeded input generator: everything a workload feeds the engine comes
  * from here, so the same seed gives byte-identical inputs.
  *
  * Events spread uniformly over a fixed `spanDays` window; row `i` of a
  * stream gets a strictly increasing timestamp, which keeps `(user_id,
  * ts_us)` unique. Users are Zipf-skewed with exponent `userSkew` (rank 0
  * is the hottest user); a user's id does not reveal its rank, so hot
  * users scatter across buckets and key ranges.
  */
final class Gen(seed: Long, users: Int, spanDays: Int, userSkew: Double = 0.7) {
  import Gen._
  val spanUs: Long = spanDays.toLong * DayUs
  private val userIds: Array[String] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    val ids = Array.tabulate(users)(i => f"u$i%06d")
    for (i <- ids.indices.reverse) {
      val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    ids
  }
  private val zipf = new Zipf(users, userSkew)

  /** The user at popularity rank `k` (0 = hottest). */
  def user(rank: Int): String = userIds(rank)

  /** `n` events, row `i` at `T0 + i * spanUs / n` plus jitter below one step. */
  def events(n: Int, stream: Long): Array[Event] = {
    val r = new SplittableRandom(seed * 31 + stream)
    val step = math.max(1L, spanUs / n)
    Array.tabulate(n) { i =>
      val u = userIds(zipf.sample(r))
      val ts = T0 + i * step + r.nextLong(step)
      val et = EventTypes(r.nextInt(EventTypes.length))
      val v = math.round(r.nextDouble() * 100000) / 100.0
      Event(u, ts, et, v, s"""{"src":"${Sources(r.nextInt(Sources.length))}","n":${r.nextInt(100)}}""")
    }
  }
}

object Gen {
  val DayUs: Long = 24L * 3600 * 1000000
  val HourUs: Long = 3600L * 1000000
  /** 2024-01-01T00:00:00Z in microseconds. */
  val T0: Long = 1704067200L * 1000000
  val EventTypes: Array[String] = Array("view", "click", "cart", "purchase", "share")
  val Sources: Array[String] = Array("web", "ios", "android")
  /** Range-read widths: 1 h, 1 d, 7 d. */
  val Widths: Array[Long] = Array(HourUs, DayUs, 7 * DayUs)

  def digest(events: Iterable[Event]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val b = ByteBuffer.allocate(16)
    events.foreach { e =>
      md.update(e.user_id.getBytes(UTF_8)); md.update(e.event_type.getBytes(UTF_8))
      md.update(e.props.getBytes(UTF_8))
      b.clear(); b.putLong(e.ts_us).putDouble(e.value); md.update(b.array())
    }
    md.digest().map(x => f"$x%02x").mkString
  }

  /** The generator's determinism contract, checked on every run: the same
    * seed reproduces the same bytes and another seed changes them.
    */
  def selfCheck(seed: Long, make: Long => Iterable[Event]): Unit = {
    val a = digest(make(seed))
    require(a == digest(make(seed)), s"generator is not deterministic for seed $seed")
    require(a != digest(make(seed + 1)), s"seeds $seed and ${seed + 1} give identical inputs")
  }
}
