package graft.ml

import graft.operators.Multimodal

/** M1: the MIMO training consumer (`/root/reference/tests/keras_mimo.py:17-67`),
  * re-expressed as a deterministic pure-JVM trainer so the engine's
  * deserialize path ends in a real model fit, not just a stream drain.
  *
  * Topology preserved from the reference:
  *  - every input flattened (the shared `Flatten` trunk, keras_mimo.py:32-43
  *    — `Flatten` has no weights, so the shared trunk IS per-input flatten),
  *  - flattened inputs concatenated on the last axis (keras_mimo.py:45),
  *  - one `Dense(prod(shape), sigmoid)` head per output, reshaped to the
  *    declared output shape (keras_mimo.py:48-55; the reshape does not
  *    change the loss),
  *  - mean-squared-error per output, summed across outputs; Adam
  *    (keras_mimo.py:57), `steps_per_epoch = n_samples // batch_size`
  *    epochs-driven fit over the batch generator (keras_mimo.py:62-65).
  *
  * Determinism (unlike the reference): weight init is seeded
  * glorot-uniform and the batch stream arrives in key order, so two runs
  * over the same sunk dataset produce bit-identical loss curves.
  *
  * SCALE NOTE. This trainer runs WHERE THE REFERENCE RAN IT: on the
  * single node driving the batch generator (the reference trains in the
  * server process, one batch at a time). It holds one batch plus the
  * weight/optimizer state — O(inDim · ΣoutDim), independent of dataset
  * size — so a 100 TB corpus streams through without driver blowup.
  * Distributed data-parallel training is an external ML system's job;
  * the engine's scalable surface is everything up to and including the
  * batched, shape-annotated, numerically-featurized stream.
  */
object MimoTrainer {

  /** One BatchExport batch: (inputs, outputs), column → row-major cells. */
  type Batch = (Map[String, IndexedSeq[Any]], Map[String, IndexedSeq[Any]])

  final case class Report(epochLosses: Seq[Double], nSteps: Long,
                          inDim: Int, outDims: Seq[Int])

  // ---- featurization: a sunk cell → fixed-width Float vector ---------------
  //
  // The reference trains on the NUMERIC view of the sunk dataset: images
  // arrive as pixel tensors, numeric streams as float vectors, labels via
  // the Class message (serialize.py:285-315). Each column's featurizer is
  // fixed from the first batch (the probe), so dimensions cannot drift
  // mid-fit; later cells that disagree are resized/padded to the probe
  // layout rather than crashing an hours-long run.
  private[ml] sealed trait Feat {
    def dim: Int
    def write(v: Any, out: Array[Float], off: Int): Unit
  }
  /** Any numeric scalar (or boolean). */
  private[ml] final class NumFeat extends Feat {
    val dim = 1
    def write(v: Any, out: Array[Float], off: Int): Unit = out(off) = numOf(v)
  }
  /** Numeric sequence, padded/truncated to the probe length. */
  private[ml] final class VecFeat(val dim: Int) extends Feat {
    def write(v: Any, out: Array[Float], off: Int): Unit = {
      val it = seqOf(v).iterator
      var i = 0
      while (i < dim && it.hasNext) { out(off + i) = numOf(it.next()); i += 1 }
    }
  }
  /** Decodable image binary → RGB/255 tensor at the probe's (h, w);
    * later images nearest-neighbour-resampled to the probe grid. */
  private[ml] final class ImgFeat(h: Int, w: Int) extends Feat {
    val dim: Int = h * w * 3
    def write(v: Any, out: Array[Float], off: Int): Unit = v match {
      case bytes: Array[Byte] =>
        decodeRgb(bytes).foreach { case (ih, iw, px) =>
          var y = 0
          while (y < h) {
            val sy = y * ih / h
            var x = 0
            while (x < w) {
              val sx = x * iw / w
              val s = (sy * iw + sx) * 3
              val d = off + (y * w + x) * 3
              out(d) = (px(s) & 0xff) / 255f
              out(d + 1) = (px(s + 1) & 0xff) / 255f
              out(d + 2) = (px(s + 2) & 0xff) / 255f
              x += 1
            }
            y += 1
          }
        }
      case _ => ()
    }
  }
  /** Undecodable binary: raw bytes/255, padded/truncated to probe length. */
  private[ml] final class BytesFeat(val dim: Int) extends Feat {
    def write(v: Any, out: Array[Float], off: Int): Unit = v match {
      case bytes: Array[Byte] =>
        var i = 0
        while (i < dim && i < bytes.length) { out(off + i) = (bytes(i) & 0xff) / 255f; i += 1 }
      case _ => ()
    }
  }
  /** Categorical label → dense first-seen index (deterministic: the
    * batch stream is key-ordered). The reference feeds labels through
    * the Class message's nlabel/slabel the same way — as a number the
    * sigmoid head regresses onto. Design weakness inherited ON PURPOSE
    * (parity with the reference's model, `tests/keras_mimo.py`), but
    * made LOUD here: a sigmoid head is bounded to (0, 1), so label
    * indices ≥ 2 are unreachable targets — with 3+ classes the MSE loss
    * plateaus at a floor and per-class information collapses. We warn
    * once when the dictionary grows past 2 entries rather than silently
    * training a model that cannot fit its own targets. */
  private[ml] final class LabelFeat extends Feat {
    val dim = 1
    private val dict = scala.collection.mutable.HashMap.empty[String, Int]
    private var warned = false
    def write(v: Any, out: Array[Float], off: Int): Unit = {
      val s = String.valueOf(v)
      out(off) = dict.getOrElseUpdate(s, dict.size).toFloat
      if (dict.size > 2 && !warned) {
        warned = true
        System.err.println(
          s"[MimoTrainer] WARNING: label column has ${dict.size}+ distinct classes but " +
            "the reference-parity head is a single sigmoid unit regressing the class " +
            "index — targets >= 2 are unreachable (loss will floor). Use a one-hot " +
            "output encoding upstream if per-class fidelity matters.")
      }
    }
    def size: Int = dict.size
  }
  /** Spark Row (e.g. the S4 struct(path, content)): one sub-featurizer
    * per field; nested strings (paths) contribute nothing. */
  private[ml] final class StructFeat(fields: IndexedSeq[Feat]) extends Feat {
    val dim: Int = fields.map(_.dim).sum
    def write(v: Any, out: Array[Float], off: Int): Unit = v match {
      case r: org.apache.spark.sql.Row =>
        var o = off
        var i = 0
        while (i < fields.length && i < r.length) {
          fields(i).write(r.get(i), out, o); o += fields(i).dim; i += 1
        }
      case _ => ()
    }
  }
  private[ml] object ZeroFeat extends Feat {
    val dim = 0
    def write(v: Any, out: Array[Float], off: Int): Unit = ()
  }

  private def numOf(v: Any): Float = v match {
    case n: java.lang.Number => n.floatValue()
    case b: java.lang.Boolean => if (b) 1f else 0f
    case _ => 0f
  }
  private def seqOf(v: Any): scala.collection.Seq[Any] = v match {
    case s: scala.collection.Seq[_] => s
    case a: Array[_] => scala.collection.immutable.ArraySeq.unsafeWrapArray(a)
    case _ => Nil
  }
  private def isNumericSeq(s: scala.collection.Seq[Any]): Boolean =
    s.forall(e => e == null || e.isInstanceOf[java.lang.Number] || e.isInstanceOf[java.lang.Boolean])
  private def decodeRgb(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] =
    try Multimodal.readImage(bytes).map(img => (img.getHeight, img.getWidth, Multimodal.toRgbBytes(img)))
    catch { case _: Exception => None }

  /** Build a column's featurizer from its probe cell. A string OUTPUT
    * column is a label (the dir-layout slabel); string INPUT columns
    * (paths — top-level or nested in the S4 struct) contribute no
    * features, exactly as the reference never feeds paths to the model. */
  private[ml] def featOf(probe: Any, asLabel: Boolean): Feat = probe match {
    case null => new NumFeat
    case _: java.lang.Number | _: java.lang.Boolean => new NumFeat
    case _: String => if (asLabel) new LabelFeat else ZeroFeat
    case bytes: Array[Byte] =>
      decodeRgb(bytes) match {
        case Some((h, w, _)) => new ImgFeat(h, w)
        case None => new BytesFeat(bytes.length)
      }
    case r: org.apache.spark.sql.Row =>
      new StructFeat((0 until r.length).map(i => featOf(r.get(i), asLabel = false)))
    case s: scala.collection.Seq[_] if isNumericSeq(s) => new VecFeat(s.length)
    case a: Array[_] if isNumericSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(a)) =>
      new VecFeat(a.length)
    case other =>
      throw new IllegalArgumentException(
        s"MimoTrainer: unsupported cell type ${other.getClass.getName}")
  }
}

/** Seeded trainer over the [[graft.ingest.BatchExport]] batch stream.
  *
  * @param inputCols  model input columns, in declared order
  * @param outputCols model output columns, in declared order
  * @param epochs     `options['epochs']` (keras_mimo.py:14)
  * @param seed       weight-init seed (glorot-uniform per head)
  */
final class MimoTrainer(inputCols: Seq[String], outputCols: Seq[String],
                        epochs: Int, seed: Long = 42L,
                        lr: Double = 1e-3, beta1: Double = 0.9,
                        beta2: Double = 0.999, eps: Double = 1e-7,
                        maxParams: Long = 1L << 24) {
  import MimoTrainer._

  require(epochs >= 1, s"MimoTrainer: epochs must be >= 1, got $epochs")
  require(inputCols.nonEmpty, "MimoTrainer: no input columns")
  require(outputCols.nonEmpty, "MimoTrainer: no output columns")

  private var inFeats: IndexedSeq[Feat] = _
  private var outFeats: IndexedSeq[Feat] = _
  private var inDim: Int = _
  private var outDims: IndexedSeq[Int] = _
  // per head: weights (outDim x inDim row-major), bias, Adam moments
  private var w: Array[Array[Double]] = _
  private var b: Array[Array[Double]] = _
  private var mW, vW, mB, vB: Array[Array[Double]] = _
  // gradient scratch, allocated once: a fresh m·inDim buffer per step
  // would churn up to ~100 MB/step through the allocator at maxParams
  private var gW, gB: Array[Array[Double]] = _
  private var t: Long = 0L

  private def initFrom(probe: Batch): Unit = {
    val (ins, outs) = probe
    def probeCell(m: Map[String, IndexedSeq[Any]], c: String): Any = {
      val cells = m.getOrElse(c, throw new IllegalArgumentException(
        s"MimoTrainer: batch is missing declared column $c"))
      cells.find(_ != null).orNull
    }
    inFeats = inputCols.toIndexedSeq.map(c => featOf(probeCell(ins, c), asLabel = false))
    outFeats = outputCols.toIndexedSeq.map(c => featOf(probeCell(outs, c), asLabel = true))
    inDim = inFeats.map(_.dim).sum
    outDims = outFeats.map(_.dim)
    require(inDim > 0, "MimoTrainer: input columns yield zero features")
    require(outDims.forall(_ > 0), "MimoTrainer: an output column yields zero features")
    // loud failure instead of a silent multi-GB allocation: weights +
    // Adam moments are 3 doubles per parameter on the driver
    val nParams = outDims.map(_.toLong * inDim).sum
    require(nParams <= maxParams,
      s"MimoTrainer: $nParams dense parameters (inDim=$inDim, outDims=$outDims) " +
        s"exceed the driver budget $maxParams; downsample inputs before the sink " +
        "or train in an external ML system")
    w = new Array[Array[Double]](outDims.length)
    b = outDims.map(d => new Array[Double](d)).toArray
    mW = new Array[Array[Double]](outDims.length)
    vW = new Array[Array[Double]](outDims.length)
    mB = outDims.map(d => new Array[Double](d)).toArray
    vB = outDims.map(d => new Array[Double](d)).toArray
    gW = new Array[Array[Double]](outDims.length)
    gB = outDims.map(d => new Array[Double](d)).toArray
    var k = 0
    while (k < outDims.length) {
      val n = outDims(k) * inDim
      val limit = math.sqrt(6.0 / (inDim + outDims(k)))
      val rng = new java.util.Random(seed + k)
      w(k) = Array.fill(n)((rng.nextDouble() * 2 - 1) * limit)
      mW(k) = new Array[Double](n)
      vW(k) = new Array[Double](n)
      gW(k) = new Array[Double](n)
      k += 1
    }
  }

  private def featurize(feats: IndexedSeq[Feat], cols: Seq[String],
                        m: Map[String, IndexedSeq[Any]], row: Int,
                        out: Array[Float]): Unit = {
    java.util.Arrays.fill(out, 0f)
    var off = 0
    var i = 0
    while (i < feats.length) {
      feats(i).write(m(cols(i))(row), out, off)
      off += feats(i).dim
      i += 1
    }
  }

  /** One Adam-updated gradient step on one batch; returns the batch's
    * summed-over-heads MSE loss. */
  private def step(batch: Batch): Double = {
    val (ins, outs) = batch
    val bSize = ins(inputCols.head).length
    if (bSize == 0) return 0.0
    val x = new Array[Float](inDim)
    val rows = new Array[Array[Float]](bSize)
    var r = 0
    while (r < bSize) {
      featurize(inFeats, inputCols, ins, r, x)
      rows(r) = x.clone()
      r += 1
    }
    t += 1
    val bc1 = 1.0 - math.pow(beta1, t.toDouble)
    val bc2 = 1.0 - math.pow(beta2, t.toDouble)
    var total = 0.0
    var k = 0
    while (k < outDims.length) {
      val m = outDims(k)
      val wk = w(k); val bk = b(k)
      val gradW = gW(k); java.util.Arrays.fill(gradW, 0.0)
      val gradB = gB(k); java.util.Arrays.fill(gradB, 0.0)
      val yRow = new Array[Float](m)
      val scale = 2.0 / (bSize.toDouble * m)
      var loss = 0.0
      r = 0
      while (r < bSize) {
        // per-head target slice: featurize only this head's column
        java.util.Arrays.fill(yRow, 0f)
        outFeats(k).write(outs(outputCols(k))(r), yRow, 0)
        val xr = rows(r)
        var j = 0
        while (j < m) {
          var z = bk(j)
          val base = j * inDim
          var i = 0
          while (i < inDim) { z += wk(base + i) * xr(i); i += 1 }
          val a = 1.0 / (1.0 + math.exp(-z))
          val diff = a - yRow(j)
          loss += diff * diff
          val dz = scale * diff * a * (1.0 - a)
          gradB(j) += dz
          i = 0
          while (i < inDim) { gradW(base + i) += dz * xr(i); i += 1 }
          j += 1
        }
        r += 1
      }
      total += loss / (bSize.toDouble * m)
      // Adam update
      val mw = mW(k); val vw = vW(k)
      var i = 0
      while (i < gradW.length) {
        mw(i) = beta1 * mw(i) + (1 - beta1) * gradW(i)
        vw(i) = beta2 * vw(i) + (1 - beta2) * gradW(i) * gradW(i)
        wk(i) -= lr * (mw(i) / bc1) / (math.sqrt(vw(i) / bc2) + eps)
        i += 1
      }
      val mb = mB(k); val vb = vB(k)
      i = 0
      while (i < m) {
        mb(i) = beta1 * mb(i) + (1 - beta1) * gradB(i)
        vb(i) = beta2 * vb(i) + (1 - beta2) * gradB(i) * gradB(i)
        bk(i) -= lr * (mb(i) / bc1) / (math.sqrt(vb(i) / bc2) + eps)
        i += 1
      }
      k += 1
    }
    total
  }

  /** Fit over the infinite batch generator, `stepsPerEpoch` batches per
    * epoch for `epochs` epochs — `fit_generator` (keras_mimo.py:62-65).
    * The first batch doubles as the featurizer probe AND the first
    * training batch (it is not consumed twice). */
  def fit(batches: Iterator[Batch], stepsPerEpoch: Long): Report = {
    require(stepsPerEpoch >= 1,
      s"MimoTrainer: stepsPerEpoch must be >= 1, got $stepsPerEpoch (n_samples < batch_size)")
    var pending: Option[Batch] = None
    def nextBatch(): Batch = pending match {
      case Some(bt) => pending = None; bt
      case None =>
        if (!batches.hasNext)
          throw new IllegalStateException("MimoTrainer: generator exhausted mid-fit")
        batches.next()
    }
    val probe = nextBatch()
    initFrom(probe)
    t = 0L // a re-fit restarts the optimizer clock with the weights
    pending = Some(probe)
    val losses = Seq.newBuilder[Double]
    var e = 0
    while (e < epochs) {
      var s = 0L
      var epochLoss = 0.0
      while (s < stepsPerEpoch) {
        epochLoss += step(nextBatch())
        s += 1
      }
      losses += epochLoss / stepsPerEpoch.toDouble
      e += 1
    }
    Report(losses.result(), t, inDim, outDims)
  }

  /** Predict every head for one already-featurized input row (spec use). */
  def predictRaw(xr: Array[Float]): IndexedSeq[Array[Double]] = {
    require(w != null, "MimoTrainer: fit has not run")
    outDims.indices.map { k =>
      val m = outDims(k); val wk = w(k); val bk = b(k)
      Array.tabulate(m) { j =>
        var z = bk(j)
        val base = j * inDim
        var i = 0
        while (i < inDim) { z += wk(base + i) * xr(i); i += 1 }
        1.0 / (1.0 + math.exp(-z))
      }
    }
  }

  /** Featurize one input row through the fitted probe layout (spec use). */
  def featurizeInputs(ins: Map[String, IndexedSeq[Any]], row: Int): Array[Float] = {
    require(inFeats != null, "MimoTrainer: fit has not run")
    val x = new Array[Float](inDim)
    featurize(inFeats, inputCols, ins, row, x)
    x
  }
}
