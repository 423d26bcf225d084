package graft.jdbc

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.net.ServerSocket
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.SQLException
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A PostgreSQL backend on an ephemeral port that replays fixed frames
  * to each of its connections in turn: `hello` answers the
  * StartupMessage, and each frontend message that ends a client turn
  * (Query, Flush, Sync) gets the next reply of that connection's turns
  * (`turns` for the first connection, `later` for the ones after). A
  * [[ScriptedPgServer.Gate]] frame in a reply flushes what came before
  * it and holds the rest until `gate` opens. The server counts the
  * connections it `accepted`, records every frontend message type it
  * reads and counts `clientClosed` down as clients hang up.
  */
final class ScriptedPgServer(hello: Seq[Array[Byte]],
    turns: Seq[Seq[Array[Byte]]], later: Seq[Seq[Seq[Array[Byte]]]] = Nil)
    extends AutoCloseable {
  private val connections = turns +: later
  private val server = new ServerSocket(0)
  val port: Int = server.getLocalPort
  val received = new ConcurrentLinkedQueue[Char]()
  val clientClosed = new CountDownLatch(connections.size)
  val accepted = new AtomicInteger()
  val gate = new CountDownLatch(1)

  private val thread = new Thread(() => try {
    connections.foreach { turns =>
      val s = server.accept()
      accepted.incrementAndGet()
      try {
        val in = new DataInputStream(s.getInputStream)
        val out = s.getOutputStream
        def reply(frames: Seq[Array[Byte]]): Unit = {
          frames.foreach { f =>
            if (f eq ScriptedPgServer.Gate) {
              out.flush(); gate.await(10, TimeUnit.SECONDS)
            } else out.write(f)
          }
          out.flush()
        }
        in.readFully(new Array[Byte](in.readInt() - 4)) // StartupMessage
        reply(hello)
        val script = turns.iterator
        var tpe = in.read()
        while (tpe >= 0) {
          in.readFully(new Array[Byte](in.readInt() - 4))
          received.add(tpe.toChar)
          if ("QHS".indexOf(tpe) >= 0 && script.hasNext) reply(script.next())
          tpe = in.read()
        }
      } catch { case _: java.io.IOException => () }
      finally { s.close(); clientClosed.countDown() }
    }
  } catch { case _: java.io.IOException => () }) // closed before a client came
  thread.setDaemon(true)
  thread.start()

  override def close(): Unit = { gate.countDown(); server.close() }
}

object ScriptedPgServer {
  def frame(tpe: Char)(body: DataOutputStream => Unit): Array[Byte] = {
    val buf = new ByteArrayOutputStream()
    body(new DataOutputStream(buf))
    val out = new ByteArrayOutputStream()
    val d = new DataOutputStream(out)
    d.writeByte(tpe.toInt)
    d.writeInt(buf.size() + 4)
    buf.writeTo(d)
    out.toByteArray
  }
  private def cstr(d: DataOutputStream, s: String): Unit = {
    d.write(s.getBytes(UTF_8)); d.writeByte(0)
  }

  val AuthOk: Array[Byte] = frame('R')(_.writeInt(0))
  val Ready: Array[Byte] = frame('Z')(_.writeByte('I'))
  val Hello: Seq[Array[Byte]] = Seq(AuthOk,
    frame('S') { d => cstr(d, "TimeZone"); cstr(d, "UTC") },
    frame('K') { d => d.writeInt(1); d.writeInt(2) }, Ready)

  def error(msg: String): Array[Byte] = frame('E') { d =>
    d.writeByte('S'); cstr(d, "ERROR")
    d.writeByte('C'); cstr(d, "42P01")
    d.writeByte('M'); cstr(d, msg)
    d.writeByte(0)
  }
  /** Holds the rest of a reply until the server's `gate` opens. */
  val Gate: Array[Byte] = new Array[Byte](0)

  /** RowDescription of `(name, type OID)` columns. */
  def rowDescription(cols: (String, Int)*): Array[Byte] = frame('T') { d =>
    d.writeShort(cols.length)
    cols.foreach { case (n, oid) =>
      cstr(d, n); d.writeInt(0); d.writeShort(0)
      d.writeInt(oid); d.writeShort(-1); d.writeInt(-1); d.writeShort(0)
    }
  }
  /** RowDescription of text-format int4 columns. */
  def int4Cols(names: String*): Array[Byte] = rowDescription(names.map(_ -> 23): _*)
  def row(cells: String*): Array[Byte] =
    rawRow(cells.map(c => if (c == null) null else c.getBytes(UTF_8)): _*)
  /** DataRow of raw cell payloads (null = SQL NULL). */
  def rawRow(cells: Array[Byte]*): Array[Byte] = frame('D') { d =>
    d.writeShort(cells.length)
    cells.foreach { b =>
      if (b == null) d.writeInt(-1) else { d.writeInt(b.length); d.write(b) }
    }
  }
  val ParseComplete: Array[Byte] = frame('1')(_ => ())
  val BindComplete: Array[Byte] = frame('2')(_ => ())
  val NoParams: Array[Byte] = frame('t')(_.writeShort(0))
  def complete(tag: String): Array[Byte] = frame('C')(cstr(_, tag))
  def notification(channel: String, payload: String): Array[Byte] =
    frame('A') { d => d.writeInt(7); cstr(d, channel); cstr(d, payload) }
  val CopyOut: Array[Byte] = frame('H') { d =>
    d.writeByte(0); d.writeShort(1); d.writeShort(0)
  }
  val Select42: Seq[Array[Byte]] =
    Seq(int4Cols("x"), row("42"), complete("SELECT 1"), Ready)
}

/** Offline tests of [[MiniPgWire]]'s receive loop against a scripted
  * server: asynchronous messages are skipped anywhere, an unexpected
  * reply throws a typed error and leaves the wire in sync, and a failed
  * startup closes its socket.
  */
class MiniPgWireRecoverySpec extends AnyFunSuite {
  import ScriptedPgServer._

  private def wireTo(server: ScriptedPgServer): MiniPgWire =
    new MiniPgWire("localhost", server.port, "db", "u", None,
      socketTimeoutSec = 5)

  private def select42(wire: MiniPgWire): Unit = {
    val r = wire.query("select 42").head
    assert(r.data.text(0, 0) === "42")
  }

  test("a CopyOutResponse reply to query throws a typed error and the " +
    "wire still runs the next query") {
    val copyOut = Seq(CopyOut, frame('d')(_.write("1\n".getBytes(UTF_8))),
      frame('c')(_ => ()), complete("COPY 1"), Ready)
    val server = new ScriptedPgServer(Hello, Seq(copyOut, Select42))
    val wire = wireTo(server)
    try {
      val e = intercept[SQLException](wire.query("copy (select 1) to stdout"))
      select42(wire)
      assert(e.getMessage.contains("unexpected query reply 'H'"))
    } finally { wire.close(); server.close() }
  }

  test("an ErrorResponse during startup fails the constructor and " +
    "closes the socket") {
    val server = new ScriptedPgServer(
      Seq(error("role \"u\" does not exist")), Seq.empty)
    try {
      val e = intercept[SQLException](wireTo(server))
      assert(e.getMessage.contains("does not exist"))
      assert(server.clientClosed.await(2, TimeUnit.SECONDS),
        "the client kept the failed connection open")
    } finally server.close()
  }

  test("a NotificationResponse in the middle of a result is skipped") {
    val rows = Seq(int4Cols("x", "y"), row("1", "2"),
      notification("jobs", "wake"), row("3", "4"),
      complete("SELECT 2"), Ready)
    val server = new ScriptedPgServer(Hello, Seq(rows))
    val wire = wireTo(server)
    try {
      val r = wire.query("select x, y from t").head
      assert(r.tag === "SELECT 2")
      assert(r.data.size === 2)
      assert((0 until 2).map(i => (r.data.text(0, i), r.data.text(1, i))) ===
        Seq(("1", "2"), ("3", "4")))
    } finally { wire.close(); server.close() }
  }

  test("a connection opens no backend for metadata, and one for its " +
    "first statement") {
    val server = new ScriptedPgServer(Hello, Seq(Select42))
    val url = s"jdbc:postgresql://localhost:${server.port}/db?user=u&binaryTransfer=false"
    try {
      val meta = new MiniPgDriver().connect(url, null)
      assert(meta.getMetaData.getDatabaseMajorVersion === 15)
      assert(!meta.isClosed)
      meta.close()
      assert(meta.isClosed)
      // Had it connected, its startup would have waited for the
      // server's reply, which follows the accept.
      assert(server.accepted.get === 0)

      val conn = new MiniPgDriver().connect(url, null)
      try {
        val rs = conn.createStatement().executeQuery("select 42")
        assert(rs.next() && rs.getInt(1) === 42)
        assert(server.accepted.get === 1)
      } finally conn.close()
    } finally server.close()
  }

  test("a frame whose length is under 4 bytes is a protocol error " +
    "that closes the wire") {
    val bad = Array[Byte]('D', 0, 0, 0, 2)
    val server = new ScriptedPgServer(Hello, Seq(Seq(int4Cols("x"), bad)))
    val wire = wireTo(server)
    try {
      val e = intercept[SQLException](wire.query("select 1"))
      assert(e.getSQLState === "08P01")
      assert(!wire.isOpen)
      assert(server.clientClosed.await(2, TimeUnit.SECONDS))
    } finally { wire.close(); server.close() }
  }

  test("a DataRow whose cell count differs from its RowDescription is " +
    "a protocol error that closes the wire") {
    val server = new ScriptedPgServer(Hello,
      Seq(Seq(int4Cols("x"), row("1", "2"), complete("SELECT 1"), Ready)))
    val wire = wireTo(server)
    try {
      val e = intercept[SQLException](wire.query("select 1"))
      assert(e.getSQLState === "08P01")
      assert(!wire.isOpen)
      assert(server.clientClosed.await(2, TimeUnit.SECONDS))
    } finally { wire.close(); server.close() }
  }

  test("a DataRow cell that runs past its row is a protocol error that " +
    "closes the wire, in query and in queryExtended") {
    val long = frame('D') { d =>
      d.writeShort(1); d.writeInt(100); d.write("42".getBytes(UTF_8))
    }
    val replies = Seq(
      Seq(Seq(int4Cols("x"), long, complete("SELECT 1"), Ready)),
      Seq(Seq(ParseComplete, NoParams, int4Cols("x")),
        Seq(BindComplete, long, complete("SELECT 1"), Ready)))
    val runs = Seq[MiniPgWire => Any](_.query("select 1"), _.queryExtended("select 1"))
    replies.zip(runs).foreach { case (turns, run) =>
      val server = new ScriptedPgServer(Hello, turns)
      val wire = wireTo(server)
      try {
        assert(intercept[SQLException](run(wire)).getSQLState === "08P01")
        assert(!wire.isOpen)
        assert(server.clientClosed.await(2, TimeUnit.SECONDS))
      } finally { wire.close(); server.close() }
    }
  }

  test("a text cell that does not parse is a protocol error that " +
    "closes the wire") {
    MiniPgScanSpec.badText.foreach { case (oid, cell) =>
      val server = new ScriptedPgServer(Hello,
        Seq(Seq(rowDescription("x" -> oid), row(cell), complete("SELECT 1"), Ready)))
      val wire = wireTo(server)
      try {
        val e = intercept[SQLException](wire.query("select x"))
        assert(e.getSQLState === "08P01", s"oid $oid '$cell'")
        assert(!wire.isOpen)
        assert(server.clientClosed.await(2, TimeUnit.SECONDS))
      } finally { wire.close(); server.close() }
    }
  }

  test("an ErrorResponse in queryExtended's describe phase sends Sync " +
    "and leaves the wire reusable") {
    val server = new ScriptedPgServer(Hello, Seq(
      Seq(error("relation \"nope\" does not exist")), // on Flush
      Seq(Ready), // on Sync
      Select42))
    val wire = wireTo(server)
    try {
      val e = intercept[SQLException](wire.queryExtended("select * from nope"))
      assert(e.getSQLState === "42P01")
      select42(wire)
      assert(server.received.asScala.toSeq === Seq('P', 'D', 'H', 'S', 'Q'))
    } finally { wire.close(); server.close() }
  }
}
