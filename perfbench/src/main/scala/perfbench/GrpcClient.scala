package perfbench

import java.util.concurrent.{CompletableFuture, TimeUnit}

import io.netty.bootstrap.Bootstrap
import io.netty.buffer.{ByteBuf, Unpooled}
import io.netty.channel.{Channel, ChannelHandlerContext, ChannelInitializer,
  ChannelInboundHandlerAdapter, MultiThreadIoEventLoopGroup}
import io.netty.channel.nio.NioIoHandler
import io.netty.channel.socket.SocketChannel
import io.netty.channel.socket.nio.NioSocketChannel
import io.netty.handler.codec.http2._

import graft.logs.{GrpcServer, LogEntryMsg, LogProto}

/** Unary `logs.v1.LogService/BatchWrite` client over one HTTP/2 connection
  * (netty's codec, the same one the server uses). Each [[batchWrite]] opens
  * a stream and completes its future with the acked count once the trailers
  * carry `grpc-status: 0`; any other status, a reset or a closed connection
  * fails the future. Calls on one connection may overlap (open loop). */
final class GrpcClient(group: MultiThreadIoEventLoopGroup, port: Int) {

  private val conn: Channel = new Bootstrap()
    .group(group)
    .channel(classOf[NioSocketChannel])
    .handler(new ChannelInitializer[SocketChannel] {
      override def initChannel(ch: SocketChannel): Unit = {
        ch.pipeline.addLast(Http2FrameCodecBuilder.forClient().build())
        ch.pipeline.addLast(new Http2MultiplexHandler(new ChannelInboundHandlerAdapter()))
      }
    })
    .connect("127.0.0.1", port).sync().channel()

  private def headers: Http2Headers = {
    val h = new DefaultHttp2Headers()
    h.method("POST").scheme("http").path(GrpcServer.BatchWritePath)
      .authority(s"127.0.0.1:$port")
    h.set("content-type", "application/grpc")
    h.set("te", "trailers")
    h
  }

  /** Send one BatchWrite; the future completes with the acked count. */
  def batchWrite(entries: Seq[LogEntryMsg]): CompletableFuture[Long] = {
    val framed = LogProto.frame(LogProto.encodeBatchWriteRequest(entries))
    val result = new CompletableFuture[Long]()
    val opened = new Http2StreamChannelBootstrap(conn)
      .handler(new ChannelInitializer[Channel] {
        override def initChannel(ch: Channel): Unit =
          ch.pipeline.addLast(new GrpcClient.Collect(result))
      })
      .open()
    opened.addListener { (f: io.netty.util.concurrent.Future[Http2StreamChannel]) =>
      if (!f.isSuccess) result.completeExceptionally(f.cause())
      else {
        val stream = f.getNow
        stream.write(new DefaultHttp2HeadersFrame(headers))
        stream.writeAndFlush(new DefaultHttp2DataFrame(Unpooled.wrappedBuffer(framed), true))
      }
    }
    result
  }

  def close(): Unit = conn.close().await(5, TimeUnit.SECONDS)
}

object GrpcClient {

  def group(threads: Int): MultiThreadIoEventLoopGroup =
    new MultiThreadIoEventLoopGroup(threads, NioIoHandler.newFactory())

  final class Failed(msg: String) extends RuntimeException(msg)

  private final class Collect(result: CompletableFuture[Long])
      extends ChannelInboundHandlerAdapter {
    private var headers: Http2Headers = _
    private val body: ByteBuf = Unpooled.buffer()

    override def channelRead(ctx: ChannelHandlerContext, msg: Object): Unit =
      msg match {
        case h: Http2HeadersFrame =>
          if (headers == null) headers = h.headers()
          if (h.isEndStream) finish(h.headers())
        case d: Http2DataFrame =>
          body.writeBytes(d.content())
          ctx.writeAndFlush(new DefaultHttp2WindowUpdateFrame(d.initialFlowControlledBytes()))
          d.release()
          if (d.isEndStream) finish(null)
        case _: Http2ResetFrame =>
          result.completeExceptionally(new Failed("stream reset"))
          ctx.close()
        case _ => ()
      }

    override def channelInactive(ctx: ChannelHandlerContext): Unit =
      result.completeExceptionally(new Failed("stream closed without trailers"))

    private def finish(trailers: Http2Headers): Unit = {
      val status = Option(trailers).flatMap(t => Option(t.get("grpc-status"))).map(_.toString)
      if (!status.contains("0")) {
        val why = Option(trailers).flatMap(t => Option(t.get("grpc-message"))).fold("")(" " + _)
        result.completeExceptionally(new Failed(s"grpc-status ${status.getOrElse("missing")}$why"))
      }
      else {
        val bytes = new Array[Byte](body.readableBytes())
        body.getBytes(body.readerIndex(), bytes)
        try result.complete(LogProto.decodeBatchWriteResponse(LogProto.unframe(bytes)))
        catch { case e: Throwable => result.completeExceptionally(e) }
      }
      body.release()
    }
  }
}
