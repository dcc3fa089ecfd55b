package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}

import io.netty.bootstrap.Bootstrap
import io.netty.channel.{Channel, ChannelHandlerContext, ChannelInboundHandlerAdapter, ChannelInitializer, MultiThreadIoEventLoopGroup}
import io.netty.channel.nio.NioIoHandler
import io.netty.channel.socket.SocketChannel
import io.netty.channel.socket.nio.NioSocketChannel
import io.netty.handler.codec.http2.{DefaultHttp2DataFrame, DefaultHttp2Headers, DefaultHttp2HeadersFrame, DefaultHttp2WindowUpdateFrame, Http2DataFrame, Http2FrameCodecBuilder, Http2HeadersFrame, Http2MultiplexHandler, Http2StreamChannelBootstrap}

/** Timing and volume of one client RPC, from the first request byte
  * written to the trailers. */
final case class RpcTiming(method: String, startNs: Long, firstMsgNs: Long,
                           endNs: Long, bytesOut: Long, bytesIn: Long,
                           msgs: Int, grpcStatus: Int) {
  def ms: Double = (endNs - startNs) / 1e6
  def firstMs: Double = (firstMsgNs - startNs) / 1e6
}

/** One HTTP/2 connection speaking gRPC to the BTrDB endpoint — a real
  * network client on the loopback, one unary-or-server-streaming call
  * at a time (the benchmark's clients are closed-loop). */
final class WireClient(port: Int, timeoutSec: Long = 120) {
  private val group = new MultiThreadIoEventLoopGroup(1, NioIoHandler.newFactory())
  private val conn: Channel = new Bootstrap().group(group)
    .channel(classOf[NioSocketChannel])
    .handler(new ChannelInitializer[SocketChannel] {
      override def initChannel(ch: SocketChannel): Unit = {
        ch.pipeline().addLast(Http2FrameCodecBuilder.forClient().build())
        ch.pipeline().addLast(
          new Http2MultiplexHandler(new ChannelInboundHandlerAdapter))
      }
    })
    .connect("127.0.0.1", port).sync().channel()

  /** Send `payload` to `method`, decode every response message into
    * `reply`; blocks until the trailers arrive. */
  def call(method: String, payload: Array[Byte], reply: Reply): RpcTiming = {
    val done = new CountDownLatch(1)
    @volatile var firstNs = 0L
    @volatile var status = -1
    var bytesIn = 0L
    var msgs = 0
    // incremental gRPC de-framing: at most one partial message is held
    var pending = new Array[Byte](0)
    def drain(chunk: Array[Byte]): Unit = {
      val arr = if (pending.isEmpty) chunk else pending ++ chunk
      var pos = 0
      var more = true
      while (more && arr.length - pos >= 5) {
        val len = ((arr(pos + 1) & 0xff) << 24) | ((arr(pos + 2) & 0xff) << 16) |
          ((arr(pos + 3) & 0xff) << 8) | (arr(pos + 4) & 0xff)
        if (arr.length - pos - 5 < len) more = false
        else {
          if (msgs == 0) firstNs = System.nanoTime()
          Proto.decode(method,
            java.util.Arrays.copyOfRange(arr, pos + 5, pos + 5 + len), reply)
          msgs += 1
          pos += 5 + len
        }
      }
      pending = java.util.Arrays.copyOfRange(arr, pos, arr.length)
    }
    val start = System.nanoTime()
    val sch = new Http2StreamChannelBootstrap(conn)
      .handler(new ChannelInboundHandlerAdapter {
        override def channelRead(ctx: ChannelHandlerContext, msg: AnyRef): Unit =
          msg match {
            case h: Http2HeadersFrame =>
              val st = h.headers().get("grpc-status")
              if (st != null) status = st.toString.toInt
              if (h.isEndStream) done.countDown()
            case d: Http2DataFrame =>
              val arr = new Array[Byte](d.content().readableBytes())
              d.content().readBytes(arr)
              bytesIn += arr.length
              drain(arr)
              val end = d.isEndStream
              val credit = d.initialFlowControlledBytes()
              d.release()
              if (credit > 0)
                ctx.writeAndFlush(new DefaultHttp2WindowUpdateFrame(credit))
              if (end) done.countDown()
            case other => io.netty.util.ReferenceCountUtil.release(other)
          }
        override def channelInactive(ctx: ChannelHandlerContext): Unit =
          done.countDown()
      })
      .open().sync().getNow
    val headers = new DefaultHttp2Headers()
    headers.method("POST").scheme("http").authority(s"127.0.0.1:$port")
      .path(s"/grpcinterface.BTrDB/$method")
    headers.set("content-type", "application/grpc")
    headers.set("te", "trailers")
    sch.write(new DefaultHttp2HeadersFrame(headers))
    val b = io.netty.buffer.Unpooled.buffer(5 + payload.length)
    b.writeByte(0).writeInt(payload.length).writeBytes(payload)
    sch.writeAndFlush(new DefaultHttp2DataFrame(b, true))
    val ok = done.await(timeoutSec, TimeUnit.SECONDS)
    val end = System.nanoTime()
    sch.close()
    RpcTiming(method, start, if (firstNs == 0L) end else firstNs, end,
      payload.length + 5L, bytesIn, msgs, if (ok) status else -2)
  }

  def close(): Unit = {
    conn.close().sync()
    group.shutdownGracefully(0, 1, TimeUnit.SECONDS).sync()
    ()
  }
}
