package graft.osm

import java.math.RoundingMode
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.hadoop.hive.ql.exec.vector._
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.orc.{OrcConf, OrcFile, TypeDescription}
import org.apache.orc.mapred.OrcOutputFormat
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.catalyst.util.{ArrayData, RebaseDateTime}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.orc.{OrcFileFormat, OrcUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Spark's ORC format with a one-pass writer, as the reference writes
  * (OsmPbf2Orc.java:90,100-116,122-125): each InternalRow goes straight
  * into orc-core's column vectors, and the footer user metadata goes in
  * before close. Spark's own writer turns every row into an `OrcStruct`
  * and copies it back into the same vectors.
  *
  * Only the OutputWriter is new. `prepareWrite` calls super, so every
  * Spark/ORC write option still applies (compression codec, block
  * padding, bloom filter columns, stripe size), and part-file naming,
  * the commit protocol and the reader stay Spark's. The writer builds
  * the orc-core `Writer` as Spark's `OrcOutputWriter` does and fills
  * rows in batches of `spark.sql.orc.columnarWriterBatchSize`. The write
  * options named in [[OsmOrcFileFormat.FooterKeys]] become footer user
  * metadata of every part file.
  *
  * Written values match Spark's writer: decimals round HALF_UP to the
  * column's scale and are null on overflow (`DecimalColumnVector.set`);
  * timestamps go through the hybrid Julian calendar of
  * `java.sql.Timestamp` (`DateTimeUtils.toJavaTimestamp`).
  */
class OsmOrcFileFormat extends OrcFileFormat {
  import OsmOrcFileFormat._

  override def prepareWrite(spark: SparkSession, job: Job, options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = {
    dataSchema.fields.foreach(f => fill(f.dataType)) // unsupported types fail on the driver
    val orc = super.prepareWrite(spark, job, options, dataSchema)
    val batchSize = spark.sessionState.conf.orcVectorizedWriterBatchSize
    val footer = FooterKeys.flatMap(k => options.get(k).map(k -> _))
    new OutputWriterFactory {
      override def getFileExtension(context: TaskAttemptContext): String =
        orc.getFileExtension(context)
      override def newInstance(path: String, dataSchema: StructType,
          context: TaskAttemptContext): OutputWriter =
        new Writer(path, dataSchema, context, batchSize, footer)
    }
  }
}

object OsmOrcFileFormat {

  /** Write options stamped into each part file's footer. */
  val FooterKeys: Seq[String] = Seq(OsmSchemas.SchemaVersionKey, OsmSchemas.BoundsKey)

  private final class Writer(val path: String, schema: StructType, context: TaskAttemptContext,
      batchSize: Int, footer: Seq[(String, String)]) extends OutputWriter {
    private val conf = context.getConfiguration
    private val writer = {
      val w = OrcFile.createWriter(new Path(path),
        OrcOutputFormat.buildOptions(conf).setSchema(OrcUtils.orcTypeDescription(schema)))
      OrcUtils.addSparkVersionMetadata(w)
      footer.foreach { case (k, v) =>
        w.addUserMetadata(k, ByteBuffer.wrap(v.getBytes(StandardCharsets.UTF_8)))
      }
      w
    }
    private val batch =
      writer.getSchema.createRowBatch(TypeDescription.RowBatchVersion.USE_DECIMAL64, batchSize)
    private val fills = schema.fields.map(f => fill(f.dataType))
    // list/map vectors grow with their rows' elements; flush when one
    // holds orc.row.child.limit of them, as orc-mapreduce's writer does
    private val childLimit = OrcConf.ROW_BATCH_CHILD_LIMIT.getInt(conf)
    private val multiValued = batch.cols.flatMap(multiValuedIn)

    override def write(row: InternalRow): Unit = {
      if (batch.size == batch.getMaxSize || childrenFull) {
        writer.addRowBatch(batch)
        batch.reset()
      }
      val r = batch.size
      var i = 0
      while (i < fills.length) { fills(i)(row, i, batch.cols(i), r); i += 1 }
      batch.size = r + 1
    }

    private def childrenFull: Boolean = {
      var i = 0
      while (i < multiValued.length && multiValued(i).childCount < childLimit) i += 1
      i < multiValued.length
    }

    override def close(): Unit = {
      if (batch.size > 0) writer.addRowBatch(batch)
      writer.close()
    }
  }

  private def multiValuedIn(v: ColumnVector): Seq[MultiValuedColumnVector] = v match {
    case l: ListColumnVector => l +: multiValuedIn(l.child)
    case m: MapColumnVector => m +: (multiValuedIn(m.keys) ++ multiValuedIn(m.values))
    case s: StructColumnVector => s.fields.toSeq.flatMap(multiValuedIn)
    case _ => Nil
  }

  /** Writes the value at ordinal `o` of `g` into row `r` of `v`. */
  private trait Fill { def apply(g: SpecializedGetters, o: Int, v: ColumnVector, r: Int): Unit }

  private def fill(t: DataType): Fill = {
    val f = value(t)
    (g, o, v, r) => if (g.isNullAt(o)) setNull(v, r) else f(g, o, v, r)
  }

  private def setNull(v: ColumnVector, r: Int): Unit = {
    v.noNulls = false
    v.isNull(r) = true
  }

  /** Grows the children of `v` by `n` elements for row `r`; returns the first. */
  private def reserve(v: MultiValuedColumnVector, r: Int, n: Int): Int = {
    val start = v.childCount
    v.offsets(r) = start
    v.lengths(r) = n
    v.childCount = start + n
    start
  }

  private val Identity = Array(Array.empty[Int], Array(0))

  /** The entry order of Spark's writer, whose `OrcMap` is a TreeMap: keys
    * in byte order, and a repeated key keeps its last value.
    */
  private def keyOrder(keys: ArrayData, n: Int): Array[Int] =
    if (n < 2) Identity(n)
    else {
      val sorted = Array.tabulate[Integer](n)(Int.box)
      java.util.Arrays.sort(sorted, (a: Integer, b: Integer) =>
        keys.getUTF8String(a).binaryCompare(keys.getUTF8String(b))) // stable
      val out = new Array[Int](n)
      var m = 0
      sorted.foreach { i =>
        if (m > 0 && keys.getUTF8String(out(m - 1)).binaryEquals(keys.getUTF8String(i))) out(m - 1) = i
        else { out(m) = i; m += 1 }
      }
      if (m == n) out else java.util.Arrays.copyOf(out, m)
    }

  private def value(t: DataType): Fill = t match {
    case LongType => (g, o, v, r) => v.asInstanceOf[LongColumnVector].vector(r) = g.getLong(o)
    case BooleanType => (g, o, v, r) =>
      v.asInstanceOf[LongColumnVector].vector(r) = if (g.getBoolean(o)) 1L else 0L
    case StringType => (g, o, v, r) =>
      val s = g.getUTF8String(o)
      val bytes = v.asInstanceOf[BytesColumnVector]
      s.getBaseObject match {
        case a: Array[Byte] =>
          bytes.setVal(r, a, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes)
        case _ =>
          val a = s.getBytes // off-heap
          bytes.setVal(r, a, 0, a.length)
      }
    case d: DecimalType if d.precision <= TypeDescription.MAX_DECIMAL64_PRECISION =>
      (g, o, v, r) =>
        val x = g.getDecimal(o, d.precision, d.scale)
        val vec = v.asInstanceOf[Decimal64ColumnVector]
        if (x.scale == d.scale && x.precision <= d.precision) vec.vector(r) = x.toUnscaledLong
        else {
          val b = x.toJavaBigDecimal.setScale(d.scale, RoundingMode.HALF_UP)
          if (b.precision > d.precision) setNull(v, r) else vec.vector(r) = b.unscaledValue.longValue
        }
    case TimestampType => (g, o, v, r) =>
      // the rebase is the identity from its last switch on, in every
      // zone; below it, it reads the default time zone
      val t = g.getLong(o)
      val us =
        if (t >= RebaseDateTime.lastSwitchGregorianTs) t
        else RebaseDateTime.rebaseGregorianToJulianMicros(t)
      val ts = v.asInstanceOf[TimestampColumnVector]
      ts.time(r) = Math.floorDiv(us, 1000L)
      ts.nanos(r) = (Math.floorMod(us, 1000000L) * 1000L).toInt
    case s: StructType =>
      val fs = s.fields.map(f => fill(f.dataType))
      (g, o, v, r) =>
        val row = g.getStruct(o, fs.length)
        val cols = v.asInstanceOf[StructColumnVector].fields
        var i = 0
        while (i < fs.length) { fs(i)(row, i, cols(i), r); i += 1 }
    case ArrayType(et, _) =>
      val f = fill(et)
      (g, o, v, r) =>
        val a = g.getArray(o)
        val n = a.numElements
        val list = v.asInstanceOf[ListColumnVector]
        val start = reserve(list, r, n)
        list.child.ensureSize(start + n, start != 0)
        var j = 0
        while (j < n) { f(a, j, list.child, start + j); j += 1 }
    case MapType(StringType, vt, _) =>
      val (fk, fv) = (fill(StringType), fill(vt))
      (g, o, v, r) =>
        val m = g.getMap(o)
        val ks = m.keyArray
        val vs = m.valueArray
        val order = keyOrder(ks, m.numElements)
        val n = order.length
        val map = v.asInstanceOf[MapColumnVector]
        val start = reserve(map, r, n)
        map.keys.ensureSize(start + n, start != 0)
        map.values.ensureSize(start + n, start != 0)
        var j = 0
        while (j < n) {
          fk(ks, order(j), map.keys, start + j)
          fv(vs, order(j), map.values, start + j)
          j += 1
        }
    case other =>
      throw new IllegalArgumentException(s"OsmOrcFileFormat cannot write $other columns")
  }
}
