package perfbench

import java.sql.{Connection, DriverManager, Timestamp}
import java.util.SplittableRandom

import graft.streaming.CdcStream.RawChange

/** Seeded change-log generator for the CDC workloads.
  *
  * Keys are drawn with Zipf-skewed popularity. Each key owns a nested JSON
  * document of about 200-400 bytes that always carries the redacted `email`
  * field. An UPDATE mutates one to three fields of the key's last document,
  * so `changes` holds real nested RFC 7386 patches; an INSERT starts a fresh
  * document; a DELETE ships the key's last document. The op is carried by
  * `event_type` the way the engine maps it (`signup` INSERT, `error`
  * DELETE, anything else UPDATE).
  */
final class ChangeLog(seed: Long, nKeys: Int) {
  private val rnd = new SplittableRandom(seed)
  private val cdf: Array[Double] = {
    val w = Array.tabulate(nKeys)(r => 1.0 / math.pow(r + 1.0, 0.9)) // Zipf, s = 0.9
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  private val docs = new Array[Doc](nKeys)

  private final case class Doc(email: String, k: Int, tier: String, score: Int,
                               lang: String, tags: Seq[String], note: String, rev: Int) {
    def json: String = {
      val tagJson = tags.map(t => "\"" + t + "\"").mkString("[", ",", "]")
      s"""{"email":"$email","k":$k,"profile":{"tier":"$tier","score":$score,""" +
        s""""prefs":{"lang":"$lang","rev":$rev}},"tags":$tagJson,"note":"$note"}"""
    }
  }

  private val Words = Array("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "join", "filter", "group", "hash", "order", "batch", "state")
  private val Tiers = Array("free", "basic", "gold", "platinum")
  private val Langs = Array("en", "fr", "de", "es", "zh")
  private val UpdateTypes = Array("purchase", "click", "view")

  private def pick[T](a: Array[T]): T = a(rnd.nextInt(a.length))
  private def note(): String =
    Seq.fill(8 + rnd.nextInt(22))(pick(Words)).mkString(" ")
  private def tags(): Seq[String] = Seq.fill(1 + rnd.nextInt(4))(pick(Words))
  private def fresh(key: Int): Doc =
    Doc(s"user$key.${rnd.nextInt(1000)}@example.com", rnd.nextInt(1000), pick(Tiers),
      rnd.nextInt(10000), pick(Langs), tags(), note(), 0)

  private def mutate(d: Doc): Doc = {
    var out = d.copy(rev = d.rev + 1)
    (0 until 1 + rnd.nextInt(3)).foreach { _ =>
      out = rnd.nextInt(7) match {
        case 0 => out.copy(k = rnd.nextInt(1000))
        case 1 => out.copy(score = rnd.nextInt(10000))
        case 2 => out.copy(tier = pick(Tiers))
        case 3 => out.copy(lang = pick(Langs))
        case 4 => out.copy(tags = tags())
        case 5 => out.copy(note = note())
        case _ => out.copy(email = s"user.${rnd.nextInt(100000)}@example.org")
      }
    }
    out
  }

  def nextKey(): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, nKeys - 1)
  }

  /** The next change for `key`: (event_type, props). */
  def change(key: Int): (String, String) = {
    val u = rnd.nextInt(100)
    val prev = docs(key)
    if (prev == null || u < 12) {
      val d = fresh(key); docs(key) = d; ("signup", d.json)
    } else if (u < 20) ("error", prev.json)
    else {
      val d = mutate(prev); docs(key) = d
      (UpdateTypes(u % 3), d.json)
    }
  }

  /** One INSERT per key, ids `firstId` upward: a table snapshot. */
  def snapshot(firstId: Long, ts: Long => Timestamp): Vector[RawChange] =
    (0 until nKeys).map { k =>
      val d = fresh(k); docs(k) = d
      RawChange(firstId + k, ts(firstId + k), k.toLong, "signup", d.json)
    }.toVector

  /** `n` changes on Zipf-drawn keys, ids `firstId` upward. */
  def changes(firstId: Long, n: Int, ts: Long => Timestamp): Vector[RawChange] =
    (0 until n).map { i =>
      val key = nextKey()
      val (typ, props) = change(key)
      RawChange(firstId + i, ts(firstId + i), key.toLong, typ, props)
    }.toVector
}

/** The in-memory Derby change table the capture source polls. */
final class DerbyLog(name: String) extends AutoCloseable {
  val url = s"jdbc:derby:memory:$name;create=true"
  private val conn: Connection = DriverManager.getConnection(url)
  conn.createStatement().execute(
    "CREATE TABLE events (event_id BIGINT PRIMARY KEY, ts TIMESTAMP, " +
      "user_id BIGINT, event_type VARCHAR(32), props VARCHAR(2000))")
  conn.setAutoCommit(false)
  private val insert = conn.prepareStatement("INSERT INTO events VALUES (?, ?, ?, ?, ?)")
  private val maxId = conn.prepareStatement("SELECT MAX(event_id) FROM events")

  /** Insert and commit `rows` as one transaction. */
  def commit(rows: Iterable[RawChange]): Unit = synchronized {
    rows.foreach { r =>
      insert.setLong(1, r.event_id); insert.setTimestamp(2, r.ts)
      insert.setLong(3, r.user_id); insert.setString(4, r.event_type)
      insert.setString(5, r.props); insert.addBatch()
    }
    insert.executeBatch()
    conn.commit()
  }

  def load(rows: Seq[RawChange]): Unit = rows.grouped(5000).foreach(commit)

  def latestId(): Long = synchronized {
    val rs = maxId.executeQuery()
    try { rs.next(); rs.getLong(1) } finally { rs.close(); conn.commit() }
  }

  override def close(): Unit = {
    conn.close()
    try DriverManager.getConnection(s"jdbc:derby:memory:$name;drop=true")
    catch { case _: java.sql.SQLException => () } // drop reports success as an exception
  }
}
