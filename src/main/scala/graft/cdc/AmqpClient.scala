package graft.cdc

import java.io.{DataInputStream, DataOutputStream, EOFException, OutputStream}
import java.net.Socket
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

/** Minimal AMQP 0-9-1 wire codec — the frame grammar of the PUBLIC
  * protocol spec (amqp0-9-1, §2.3 framing + §4 the connection/channel/
  * queue/basic method classes), shared by the client and the test
  * broker so both sides are exercised against golden bytes rather than
  * a mirrored misunderstanding.
  *
  * Frame layout: type(1) channel(2) size(4) payload(size) end(0xCE).
  * Method payload: class-id(2) method-id(2) args. Strings are shortstr
  * (len1+bytes) / longstr (len4+bytes); field tables are length-
  * prefixed blobs (we only ever send the empty table). */
private[cdc] object AmqpWire {
  val FrameMethod = 1; val FrameHeader = 2; val FrameBody = 3
  val FrameHeartbeat = 8; val FrameEnd = 0xCE
  val ClassConnection = 10; val ClassChannel = 20
  val ClassQueue = 50; val ClassBasic = 60
  // RabbitMQ publisher-confirms extension (public spec amqp0-9-1
  // errata + rabbitmq confirms doc): Confirm.Select/SelectOk,
  // Basic.Ack/Nack reused from the delivery grammar.
  val ClassConfirm = 85
  val MethodConfirmSelect = 10; val MethodConfirmSelectOk = 11
  val MethodBasicAck = 80; val MethodBasicNack = 120
  val ProtocolHeader: Array[Byte] =
    Array('A', 'M', 'Q', 'P', 0, 0, 9, 1).map(_.toByte)

  final case class Frame(tpe: Int, channel: Int, payload: Array[Byte])

  final class Writer {
    private val bos = new java.io.ByteArrayOutputStream()
    private val out = new DataOutputStream(bos)
    def u8(v: Int): Writer = { out.writeByte(v); this }
    def u16(v: Int): Writer = { out.writeShort(v); this }
    def u32(v: Long): Writer = { out.writeInt(v.toInt); this }
    def u64(v: Long): Writer = { out.writeLong(v); this }
    def shortstr(s: String): Writer = {
      val b = s.getBytes(UTF_8)
      require(b.length < 256, s"shortstr too long: ${b.length}")
      out.writeByte(b.length); out.write(b); this
    }
    def longstr(b: Array[Byte]): Writer = { out.writeInt(b.length); out.write(b); this }
    def longstr(s: String): Writer = longstr(s.getBytes(UTF_8))
    def emptyTable(): Writer = { out.writeInt(0); this }
    def bytes: Array[Byte] = { out.flush(); bos.toByteArray }
  }

  final class Reader(payload: Array[Byte]) {
    private val in = new DataInputStream(new java.io.ByteArrayInputStream(payload))
    def u8(): Int = in.readUnsignedByte()
    def u16(): Int = in.readUnsignedShort()
    def u32(): Long = in.readInt().toLong & 0xffffffffL
    def u64(): Long = in.readLong()
    def shortstr(): String = {
      val n = in.readUnsignedByte(); val b = new Array[Byte](n)
      in.readFully(b); new String(b, UTF_8)
    }
    def longstr(): Array[Byte] = {
      val n = in.readInt(); val b = new Array[Byte](n)
      in.readFully(b); b
    }
    def skipTable(): Unit = { val n = in.readInt(); in.skipBytes(n); () }
  }

  private def putFrame(buf: ByteBuffer, tpe: Int, channel: Int,
      payload: Array[Byte], off: Int, len: Int): Unit = {
    buf.put(tpe.toByte).putShort(channel.toShort).putInt(len)
      .put(payload, off, len).put(FrameEnd.toByte)
    ()
  }

  /** One frame, encoded whole and handed to `out` in a single write. */
  def writeFrame(out: OutputStream, tpe: Int, channel: Int,
      payload: Array[Byte]): Unit = {
    val buf = ByteBuffer.allocate(payload.length + 8)
    putFrame(buf, tpe, channel, payload, 0, payload.length)
    out.write(buf.array()); out.flush()
  }

  /** One whole Basic.Publish — method, content-header and body frames
    * back to back — as one array, so a publish is one socket write.
    * Bodies larger than `frameMax` are split into (frameMax − 8)-byte
    * chunks, the 8 bytes being the frame envelope
    * (type+channel+size+end); a `frameMax` of 0 (the spec's Tune
    * sentinel) means unlimited. An empty body has no body frame. */
  def publishFrames(channel: Int, routingKey: String, body: Array[Byte],
      frameMax: Long): Array[Byte] = {
    val m = basicPublish(routingKey)
    val h = contentHeader(body.length.toLong)
    val chunk =
      if (frameMax <= 8) body.length.max(1)
      else math.min(frameMax - 8, Int.MaxValue.toLong).toInt
    val bodyFrames = ((body.length.toLong + chunk - 1) / chunk).toInt
    val buf = ByteBuffer.allocate(m.length + h.length + body.length + 8 * (2 + bodyFrames))
    putFrame(buf, FrameMethod, channel, m, 0, m.length)
    putFrame(buf, FrameHeader, channel, h, 0, h.length)
    var off = 0
    while (off < body.length) {
      val n = math.min(chunk, body.length - off)
      putFrame(buf, FrameBody, channel, body, off, n)
      off += n
    }
    buf.array()
  }

  /** Read one frame, transparently skipping heartbeats. */
  def readFrame(in: DataInputStream): Frame = {
    while (true) {
      val tpe = in.readUnsignedByte()
      val ch = in.readUnsignedShort()
      val size = in.readInt()
      val payload = new Array[Byte](size)
      in.readFully(payload)
      val end = in.readUnsignedByte()
      require(end == FrameEnd, f"bad frame end 0x$end%02x")
      if (tpe != FrameHeartbeat) return Frame(tpe, ch, payload)
    }
    throw new EOFException("unreachable")
  }

  def method(classId: Int, methodId: Int)(args: Writer => Writer): Array[Byte] =
    args(new Writer().u16(classId).u16(methodId)).bytes

  /** Method frame payload for Basic.Publish to the default exchange. */
  def basicPublish(routingKey: String): Array[Byte] =
    method(ClassBasic, 40)(_.u16(0).shortstr("").shortstr(routingKey).u8(0))

  /** Content HEADER payload: class 60, weight 0, body size, and the
    * delivery-mode=2 (persistent) property — flag bit 12 per §4.2.6.1's
    * property-flags ordering. */
  def contentHeader(bodySize: Long): Array[Byte] =
    new Writer().u16(ClassBasic).u16(0).u64(bodySize).u16(1 << 12).u8(2).bytes
}

/** Minimal AMQP 0-9-1 PUBLISHER — the real network half of the
  * reference's RabbitMQ queue (reference src/queues.rs:17-65, which
  * delegates to the lapin crate): protocol handshake (Start/StartOk
  * with PLAIN auth → Tune/TuneOk → Open/OpenOk), one channel, durable
  * queue declare, Basic.Publish with persistent delivery — written
  * directly on the public frame grammar so the offline build carries no
  * broker dependency. Tested end-to-end against an in-process scripted
  * broker (AmqpQueueSpec); pointed at a real RabbitMQ it speaks the
  * same bytes.
  *
  * Deliberately publisher-only (no consume machinery beyond publisher
  * confirms): the reference never consumes.
  *
  * Concurrency model: ONE connection, a POOL of channels. Each
  * publishing task borrows a channel id from the pool, encodes its
  * method/header/body frames into one array ([[AmqpWire.publishFrames]])
  * outside any lock, and hands that array to the socket in one write
  * under the socket lock — so a publish costs one system call, the
  * lock is held only for that write, and no other frame can land
  * inside a channel's method→header→body sequence. The channel id is
  * held across a confirm-mode wait for the broker's ack, so publishers
  * on other channels keep writing meanwhile. The broker sees one socket
  * per JVM. The reference is single-threaded on one channel
  * (queues.rs:17-29); the pool is the distributed analogue.
  *
  * `confirms = true` (off by default — the reference's publish is
  * fire-and-forget, queues.rs:44-64) negotiates RabbitMQ publisher
  * confirms: Confirm.Select per channel at connect, then every publish
  * blocks for the broker's Basic.Ack on its borrowed channel. A Nack,
  * a channel/connection close, a dropped socket, or a confirm timeout
  * surfaces as IOException — a broker crash between socket write and
  * disk becomes a retryable ERROR, not silence. */
final class AmqpClient(host: String, port: Int, user: String = "guest",
    pass: String = "guest", vhost: String = "/", channels: Int = 8,
    confirms: Boolean = false, confirmTimeoutMs: Long = 30000L) {
  import AmqpWire._
  import java.util.concurrent.{ArrayBlockingQueue, LinkedBlockingQueue, TimeUnit}

  private var socket: Socket = _
  private var in: DataInputStream = _
  private var out: OutputStream = _
  // negotiated in connect(); 0 = unlimited (the spec's Tune sentinel)
  private var frameMaxBytes: Long = 0L
  // socket-write lock: held for one write of already-encoded bytes (a
  // whole publish, or the Close frame); the socket stream is
  // unbuffered, so every write has reached the kernel when it returns
  private val outLock = new Object
  private var pool: ArrayBlockingQueue[Integer] = _
  // confirm mode: per-channel mailboxes fed by the reader thread;
  // Right(deliveryTag) = acked, Left(reason) = failed
  private var acks: Map[Int, LinkedBlockingQueue[Either[String, Long]]] = Map.empty
  private var reader: Thread = _

  private def send(bytes: Array[Byte]): Unit =
    outLock.synchronized { out.write(bytes); out.flush() }

  private def expectMethod(f: Frame, classId: Int, methodId: Int): Reader = {
    require(f.tpe == FrameMethod, s"expected method frame, got type ${f.tpe}")
    val r = new Reader(f.payload)
    val (c, m) = (r.u16(), r.u16())
    require(c == classId && m == methodId,
      s"expected method $classId.$methodId, got $c.$m")
    r
  }

  def connect(): Unit = {
    socket = new Socket(host, port)
    socket.setTcpNoDelay(true)
    in = new DataInputStream(socket.getInputStream)
    out = socket.getOutputStream
    out.write(ProtocolHeader); out.flush()
    expectMethod(readFrame(in), ClassConnection, 10) // Start; args ignored
    writeFrame(out, FrameMethod, 0, method(ClassConnection, 11) { w =>
      w.emptyTable().shortstr("PLAIN")
        .longstr(s"\u0000$user\u0000$pass") // SASL PLAIN: NUL cid NUL pwd
        .shortstr("en_US")
    })
    val tune = expectMethod(readFrame(in), ClassConnection, 30)
    val (chMax, frMax) = (tune.u16(), tune.u32())
    frameMaxBytes = frMax
    writeFrame(out, FrameMethod, 0, method(ClassConnection, 31)(
      _.u16(chMax).u32(frMax).u16(0))) // heartbeat 0: no keepalive thread
    writeFrame(out, FrameMethod, 0, method(ClassConnection, 40)(
      _.shortstr(vhost).shortstr("").u8(0)))
    expectMethod(readFrame(in), ClassConnection, 41) // OpenOk
    // channel pool: ids 1..n, each opened with a synchronous
    // Open/OpenOk exchange (safe — the reader thread isn't running yet)
    val n = math.max(1, if (chMax > 0) math.min(channels, chMax) else channels)
    pool = new ArrayBlockingQueue[Integer](n)
    acks = (1 to n).map(_ -> new LinkedBlockingQueue[Either[String, Long]]()).toMap
    for (ch <- 1 to n) {
      writeFrame(out, FrameMethod, ch, method(ClassChannel, 10)(_.shortstr("")))
      expectMethod(readFrame(in), ClassChannel, 11) // Channel.OpenOk
      if (confirms) {
        writeFrame(out, FrameMethod, ch,
          method(ClassConfirm, MethodConfirmSelect)(_.u8(0))) // nowait=0
        expectMethod(readFrame(in), ClassConfirm, MethodConfirmSelectOk)
        ()
      }
      pool.put(ch)
    }
  }

  /** Durable, non-exclusive, non-auto-delete — queues.rs:31-40's shape.
    * Called once at setup, before any publish — and so before the
    * confirm-mode reader thread owns the socket's read side. */
  def declareQueue(name: String): Unit = synchronized {
    writeFrame(out, FrameMethod, 1, method(ClassQueue, 10)(
      _.u16(0).shortstr(name).u8(0x02).emptyTable())) // bit1 = durable
    expectMethod(readFrame(in), ClassQueue, 11)
    ()
  }

  /** Confirm-mode reads (acks, closes) happen on ONE reader thread that
    * routes frames by channel id into per-channel mailboxes; started
    * lazily on the first publish so the synchronous setup reads
    * (connect, declareQueue) never race it. */
  private def ensureReader(): Unit = synchronized {
    if (reader == null) {
      reader = new Thread(() => readLoop(), s"amqp-confirm-reader-$host:$port")
      reader.setDaemon(true)
      reader.start()
    }
  }

  private def failAll(reason: String): Unit =
    acks.valuesIterator.foreach(_.put(Left(reason)))

  private def readLoop(): Unit =
    try while (true) {
      val f = readFrame(in)
      if (f.tpe == FrameMethod) {
        val r = new Reader(f.payload)
        (r.u16(), r.u16()) match {
          case (ClassBasic, MethodBasicAck) =>
            acks(f.channel).put(Right(r.u64()))
          case (ClassBasic, MethodBasicNack) =>
            acks(f.channel).put(Left(s"broker nacked delivery ${r.u64()}"))
          case (ClassChannel, 40) => // Channel.Close
            acks(f.channel).put(Left("channel closed by broker"))
          case (ClassConnection, 50) => // Connection.Close
            failAll("connection closed by broker"); return
          case _ => () // CloseOk etc.
        }
      }
    } catch {
      case _: EOFException => failAll("connection dropped by broker")
      case e: java.io.IOException => failAll(s"read failed: ${e.getMessage}")
    }

  /** Persistent publish (queues.rs:44-64's basic_publish): method +
    * content-header + body frames on a channel borrowed from the pool
    * for the duration of the publish, written to the socket in one
    * write; bodies larger than the Tune-negotiated frame-max are split
    * as [[AmqpWire.publishFrames]] describes. When this returns, every
    * byte of the publish has been handed to the kernel — the relay's
    * cursor commit relies on that. In confirm mode, blocks until the
    * broker acks this channel's delivery. */
  def publish(queue: String, body: Array[Byte]): Unit = {
    if (confirms) ensureReader()
    val ch: Int = pool.take()
    try {
      // drop acks that leaked from an aborted predecessor on this
      // channel (e.g. a confirm that timed out, then arrived late)
      if (confirms) acks(ch).clear()
      send(publishFrames(ch, queue, body, frameMaxBytes))
      if (confirms) {
        acks(ch).poll(confirmTimeoutMs, TimeUnit.MILLISECONDS) match {
          case null => throw new java.io.IOException(
            s"publisher confirm timed out after ${confirmTimeoutMs}ms")
          case Left(reason) => throw new java.io.IOException(
            s"publish not confirmed: $reason")
          case Right(_) => ()
        }
      }
    } finally { pool.put(ch); () }
  }

  def close(): Unit = synchronized { if (socket != null) {
    try {
      outLock.synchronized {
        writeFrame(out, FrameMethod, 0, method(ClassConnection, 50)(
          _.u16(200).shortstr("OK").u16(0).u16(0)))
      }
      // with a confirm-reader running, IT consumes the CloseOk (read
      // side has one owner); otherwise read it here for a clean drain
      if (reader == null) { expectMethod(readFrame(in), ClassConnection, 51); () }
    } finally { socket.close(); socket = null }
  } }

  /** Drop the socket WITHOUT the Close handshake — for a connection
    * already known dead (a publish just threw): the graceful close
    * would block reading CloseOk from the dead peer. */
  def abort(): Unit = synchronized { if (socket != null) {
    try socket.close() catch { case _: java.io.IOException => () }
    socket = null
  } }
}

/** [[MessageQueue]] over [[AmqpClient]] — `amqp://[user:pass@]host:port/
  * queue`. Serializable by address; connections live in a PER-JVM cache
  * keyed by address (AmqpQueue.clientFor), so the thousands of task
  * closures a continuous streaming relay deserializes share one
  * connection per executor instead of dialing the broker per task —
  * Spark tasks never close what they open, and one socket per task per
  * micro-batch exhausts broker connection limits within hours. Tasks
  * sharing the connection publish concurrently on its channel pool;
  * each publish is one socket write inside [[AmqpClient]] (the
  * reference holds one connection in its single-process loop,
  * queues.rs:17-29; one per executor JVM is the distributed
  * analogue). */
class AmqpQueue(val addr: String) extends MessageQueue {
  private val (_, _, _, _, queue) = AmqpQueue.parse(addr) // validate eagerly

  /** On an I/O failure the cached client is EVICTED before the error
    * propagates: the connection is dead, and without eviction every
    * Spark task retry would reuse the same dead socket until JVM
    * restart — the reference instead reconnects in its retry loop
    * (src/main.rs:140-198), and eviction + task retry is the
    * distributed analogue of that redial. */
  override def publish(data: Array[Byte]): Unit = {
    val c = AmqpQueue.clientFor(addr)
    try c.publish(queue, data)
    catch {
      case e: java.io.IOException => AmqpQueue.evict(addr, c); throw e
    }
  }
  def close(): Unit = AmqpQueue.closeClient(addr)
}

object AmqpQueue {
  private val Addr =
    raw"amqp://(?:([^:@/]+):([^:@/]+)@)?([^:@/]+):(\d+)/([^/?]+)(?:\?([^/]*))?".r

  private[cdc] val clients =
    scala.collection.mutable.Map.empty[String, AmqpClient]

  /** One connected, queue-declared client per address per JVM. */
  private def clientFor(addr: String): AmqpClient = clients.synchronized {
    clients.getOrElseUpdate(addr, {
      val (user, pass, host, port, queue) = parse(addr)
      val o = opts(addr)
      val c = new AmqpClient(host, port, user, pass,
        channels = o.getOrElse("channels", "8").toInt,
        confirms = o.get("confirm").exists(_.toBoolean),
        confirmTimeoutMs = o.getOrElse("confirmTimeoutMs", "30000").toLong)
      c.connect()
      c.declareQueue(queue)
      c
    })
  }

  /** Query-string options (`?confirm=true&channels=4`): `channels`
    * sizes the per-connection channel pool, `confirm` turns on
    * publisher confirms (default OFF — reference parity:
    * fire-and-forget, queues.rs:44-64). */
  private[cdc] def opts(addr: String): Map[String, String] = addr match {
    case Addr(_, _, _, _, _, q) =>
      Option(q).filter(_.nonEmpty).fold(Map.empty[String, String]) {
        _.split("&").iterator.map(_.split("=", 2)).collect {
          case Array(k, v) => k -> v
        }.toMap
      }
    case _ => Map.empty
  }

  private def closeClient(addr: String): Unit = clients.synchronized {
    clients.remove(addr).foreach(_.close())
  }

  /** Remove a DEAD client so the next publish redials. Identity-checked:
    * if a concurrent task already evicted and redialed, the fresh
    * client stays cached. */
  private def evict(addr: String, dead: AmqpClient): Unit = {
    clients.synchronized {
      if (clients.get(addr).exists(_ eq dead)) { clients.remove(addr); () }
    }
    dead.abort()
  }

  /** (user, pass, host, port, queue); credentials default to
    * guest/guest like every AMQP client. */
  def parse(addr: String): (String, String, String, Int, String) = addr match {
    case Addr(u, p, host, port, queue, _) =>
      (Option(u).getOrElse("guest"), Option(p).getOrElse("guest"),
        host, port.toInt, queue)
    case other => throw new IllegalArgumentException(
      s"bad AMQP address '$other' (want amqp://[user:pass@]host:port/queue)")
  }
}
