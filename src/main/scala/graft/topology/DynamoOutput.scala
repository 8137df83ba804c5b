package graft.topology

import org.apache.spark.TaskContext
import org.apache.spark.sql.Row

/** DynamoDB-style sink: per-partition batched writes with in-batch
  * primary-key dedup, multi-region fan-out and rate limiting —
  * reference: output/dyndb.go:20-31 (spec), :307-364 (push/dedup),
  * :366-390 (flush), batch size 25 (dyndb.go:33).
  *
  * The write itself goes through a [[DynamoOutput.BatchWriter]] seam,
  * selected by the `Client` config key:
  *
  *  - `"local"` (default): each flushed batch becomes one JSON-lines file
  *    of DynamoDB-typed items under LocalDir/<region>/<table>/ — the
  *    zero-egress double every spec runs against.
  *  - `"aws"`: a real BatchWriteItem client built REFLECTIVELY against the
  *    AWS SDK v2 (`software.amazon.awssdk:dynamodb`), so this library
  *    compiles without the SDK on the classpath; selecting `aws` without
  *    the SDK jars fails fast with an instructive error. The SDK is not in
  *    this build's dependency set, so the reflective path is exercised on
  *    a real cluster, not by the test suite.
  *
  * All batching/dedup/pacing logic is the shared, partition-local code
  * path (`foreachPartition`) either way — exactly how the AWS writer runs
  * on a cluster: no driver involvement, no collect.
  */
object DynamoOutput {

  val batchSize = 25 // BatchWriteItem hard limit (dyndb.go:33)

  /** One typed item: (attributeName, "n"|"s", stringValue). */
  type Item = Seq[(String, String, String)]

  /** The flush seam: deliver one deduped batch to one region/table.
    * Instantiated PER PARTITION on the executor (must be buildable from
    * serializable config alone).
    */
  trait BatchWriter {
    def write(region: String, table: String, partitionId: Int, batchNo: Int,
        items: Seq[Item]): Unit
    def close(): Unit = ()
  }

  /** Zero-egress double: one JSONL file of DynamoDB-typed items per batch. */
  final class LocalBatchWriter(localDir: String) extends BatchWriter {
    private def esc(s: String) = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }
    def write(region: String, table: String, pid: Int, n: Int, items: Seq[Item]): Unit = {
      val lines = items.map(_.map { case (name, t, v) =>
        val tt = if (t == "n") "N" else "S"
        s""""${esc(name)}":{"$tt":"${esc(v)}"}"""
      }.mkString("{", ",", "}")).mkString("", "\n", "\n")
      val dir = new java.io.File(s"$localDir/$region/$table")
      dir.mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(dir, f"batch-$pid%05d-$n%06d.jsonl").toPath, lines)
    }
  }

  /** Real DynamoDB BatchWriteItem via the AWS SDK v2, loaded reflectively
    * through [[AwsReflect]] (reference: output/dyndb.go:366-390). One
    * client per region, created lazily on the executor. Unprocessed items
    * are retried by resending the returned remainder, like the reference's
    * backoff loop.
    */
  final class AwsBatchWriter(maxRetries: Int = 3) extends BatchWriter {
    private val clients = scala.collection.mutable.HashMap.empty[String, AnyRef]
    private def client(region: String): AnyRef = clients.getOrElseUpdate(region,
      AwsReflect.client("software.amazon.awssdk.services.dynamodb.DynamoDbClient", region))

    def write(region: String, table: String, pid: Int, n: Int, items: Seq[Item]): Unit = {
      import scala.jdk.CollectionConverters._
      def writeRequests(its: Seq[Item]): java.util.List[AnyRef] = its.map { item =>
        val attrs: java.util.Map[String, AnyRef] = item.map { case (name, t, v) =>
          name -> AwsReflect.build(
            "software.amazon.awssdk.services.dynamodb.model.AttributeValue",
            (if (t == "n") "n" else "s") -> v)
        }.toMap.asJava
        AwsReflect.build("software.amazon.awssdk.services.dynamodb.model.WriteRequest",
          "putRequest" -> AwsReflect.build(
            "software.amazon.awssdk.services.dynamodb.model.PutRequest", "item" -> attrs))
      }.asJava
      var pending: java.util.Map[String, AnyRef] =
        Map(table -> (writeRequests(items): AnyRef)).asJava
      var attempt = 0
      while (!pending.isEmpty && attempt <= maxRetries) {
        if (attempt > 0) Thread.sleep(100L << attempt) // backoff (dyndb.go:383)
        val resp = AwsReflect.call(client(region), "batchWriteItem", AwsReflect.build(
          "software.amazon.awssdk.services.dynamodb.model.BatchWriteItemRequest",
          "requestItems" -> pending))
        pending = AwsReflect.call(resp, "unprocessedItems")
          .asInstanceOf[java.util.Map[String, AnyRef]]
        attempt += 1
      }
      if (!pending.isEmpty) throw new IllegalStateException(
        s"DynamoDB: batch not fully written after $maxRetries retries")
    }
    override def close(): Unit = clients.values.foreach(AwsReflect.close)
  }

  val desc: OutputDesc = OutputDesc(
    "DynamoDB",
    "Writes records to DynamoDB in batches of 25 with in-batch primary-key " +
      "dedup, multi-region fan-out and rate limiting. Client=\"local\" " +
      "(default) writes a JSONL double under LocalDir; Client=\"aws\" uses " +
      "the real BatchWriteItem API (needs the AWS SDK v2 on the classpath).",
    Seq(
      ConfigKey("Table", "destination table name", required = true),
      ConfigKey("Columns", "typed columns: 'n:field' (number) or 's:field' (string); " +
        "the first is the primary key", required = true),
      ConfigKey("Regions", "regions to fan out to", default = Some(Seq("us-west-2"))),
      ConfigKey("Client", "\"local\" (JSONL double) or \"aws\" (real SDK)",
        default = Some("local")),
      ConfigKey("LocalDir", "root dir of the local double (Client=\"local\")",
        default = Some("")),
      ConfigKey("MaxWritesPerSec", "per-partition write rate limit (0 = unlimited)",
        default = Some(0L)),
      ConfigKey("FlushInterval", "accepted for parity (batch flush is size-driven)"),
      ConfigKey("MaxBackoff", "accepted for parity")),
    raw = false,
    (ctx, cfg, df) => {
      val table = cfg.str("Table")
      val columns = cfg.strList("Columns").map { spec =>
        val Array(t, name) = spec.split(":", 2)
        require(t == "n" || t == "s", s"DynamoDB: bad column spec '$spec'")
        (t, name)
      }
      val regions = cfg.strList("Regions")
      val clientKind = cfg.str("Client").toLowerCase
      require(clientKind == "local" || clientKind == "aws",
        s"DynamoDB: Client must be \"local\" or \"aws\", got '$clientKind'")
      val localDir = cfg.str("LocalDir")
      require(clientKind != "local" || localDir.nonEmpty,
        "DynamoDB: LocalDir is required for Client=\"local\"")
      val maxRate = cfg.int("MaxWritesPerSec")
      val fieldNames = columns.map(_._2)
      val data = df.select(fieldNames.map(org.apache.spark.sql.functions.col): _*)
      val counter = ctx.spark.sparkContext.longAccumulator("dynamodb_written")

      data.foreachPartition { (rows: Iterator[Row]) =>
        val writer: BatchWriter =
          if (clientKind == "aws") new AwsBatchWriter() else new LocalBatchWriter(localDir)
        val pid = TaskContext.getPartitionId()
        var batchNo = 0
        var lastFlushNanos = System.nanoTime()
        def flush(batch: Seq[Row]): Unit = if (batch.nonEmpty) {
          // in-batch primary-key dedup, LAST write wins (dyndb.go:307-364)
          val deduped = batch.foldLeft(Vector.empty[Row] -> Set.empty[String]) {
            case ((acc, seen), r) =>
              val pk = String.valueOf(r.get(0))
              if (seen(pk)) (acc.filterNot(x => String.valueOf(x.get(0)) == pk) :+ r, seen)
              else (acc :+ r, seen + pk)
          }._1
          val items: Seq[Item] = deduped.map { r =>
            columns.zipWithIndex.map { case ((t, name), i) =>
              (name, t, Option(r.get(i)).map(_.toString).getOrElse(""))
            }
          }
          for (region <- regions) writer.write(region, table, pid, batchNo, items)
          counter.add(items.size)
          batchNo += 1
          if (maxRate > 0) {
            // token pacing: one batch per (batchSize/maxRate) seconds
            val minNanos = (batchSize.toLong * 1000000000L) / maxRate
            val elapsed = System.nanoTime() - lastFlushNanos
            if (elapsed < minNanos)
              Thread.sleep((minNanos - elapsed) / 1000000)
            lastFlushNanos = System.nanoTime()
          }
        }
        try rows.grouped(batchSize).foreach(g => flush(g.toSeq))
        finally writer.close()
      }
      OutputResult(Nil, counter.value)
    },
  )
}
