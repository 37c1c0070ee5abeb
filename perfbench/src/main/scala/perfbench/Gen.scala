package perfbench

import java.awt.{BasicStroke, Color, GradientPaint}
import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{Executors, TimeUnit}
import javax.imageio.ImageIO
import scala.util.Random

/** Seeded input generators. Every generator is a pure function of its
  * arguments: the same seed gives byte-identical inputs. File corpora are
  * cached on disk under a directory named by kind, seed and size; a
  * `_COMPLETE` marker makes a half-written cache regenerate instead of
  * being read. */
object Gen {

  /** Topic-clustered text: each topic owns a word list and every caption
    * draws most of its tokens from one topic, so the embedded corpus has
    * the cluster structure an IVF layout routes on. */
  final case class Topics(nTopics: Int, wordsPerTopic: Int, seed: Long) {
    private val rnd = new Random(seed)
    private val syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti",
      "vo", "ze", "pa", "do", "gu", "ri", "fe", "ho", "ba", "ce", "ju")
    private def word(): String =
      Seq.fill(2 + rnd.nextInt(3))(syllables(rnd.nextInt(syllables.length))).mkString
    val topicWords: Array[Array[String]] =
      Array.fill(nTopics)(Array.fill(wordsPerTopic)(word()))
    val common: Array[String] = Array.fill(wordsPerTopic * 2)(word())

    /** A caption: `len` tokens, ~75% from `topic`, the rest shared. */
    def caption(topic: Int, r: Random, len: Int = 12): String =
      Seq.fill(len) {
        if (r.nextDouble() < 0.75) topicWords(topic)(r.nextInt(wordsPerTopic))
        else common(r.nextInt(common.length))
      }.mkString(" ")

    /** A free-text query: a few tokens of one topic. */
    def query(topic: Int, r: Random): String =
      Seq.fill(3 + r.nextInt(3))(topicWords(topic)(r.nextInt(wordsPerTopic)))
        .mkString(" ")
  }

  /** `n` captions, topic-clustered; row i is `(i, caption)`. */
  def captions(n: Int, topics: Topics, seed: Long): Array[String] = {
    val r = new Random(seed ^ 0x5eedL)
    Array.tabulate(n)(_ => topics.caption(r.nextInt(topics.nTopics), r))
  }

  /** `n` text queries over the same topics. */
  def queries(n: Int, topics: Topics, seed: Long): Array[String] = {
    val r = new Random(seed ^ 0x9e77L)
    Array.tabulate(n)(_ => topics.query(r.nextInt(topics.nTopics), r))
  }

  /** One change event of the sync workload's feed. */
  final case class Change(pk: Long, caption: String, deleted: Boolean)

  /** A change stream over a base corpus of `base` pks: `batches` batches
    * of `batchSize` events, mixing updates of live pks, inserts of new pks
    * and `_deleted` tombstones of live pks. A pk appears at most once per
    * batch. */
  def changeBatches(base: Int, batches: Int, batchSize: Int, topics: Topics,
      seed: Long): Array[Array[Change]] = {
    val r = new Random(seed ^ 0xc4a9L)
    val live = scala.collection.mutable.ArrayBuffer.tabulate(base)(_.toLong)
    var next = base.toLong
    Array.fill(batches) {
      val used = scala.collection.mutable.HashSet.empty[Long]
      Array.fill(batchSize) {
        val roll = r.nextDouble()
        def pickLive(): Long = {
          var pk = live(r.nextInt(live.length))
          while (used(pk)) pk = live(r.nextInt(live.length))
          pk
        }
        val c =
          if (roll < 0.5) Change(pickLive(), topics.caption(r.nextInt(topics.nTopics), r), deleted = false)
          else if (roll < 0.8) {
            val pk = next; next += 1; live += pk
            Change(pk, topics.caption(r.nextInt(topics.nTopics), r), deleted = false)
          } else {
            val pk = pickLive()
            val at = live.indexOf(pk)
            live(at) = live.last; live.remove(live.length - 1)
            Change(pk, "", deleted = true)
          }
        used += c.pk
        c
      }
    }
  }

  /** Dedup corpus: `n` documents of `len` tokens over a vocabulary, of
    * which `planted` are near-duplicates of earlier documents with a few
    * tokens substituted — far above the 0.7 word-3-shingle Jaccard
    * threshold. Returns the docs and the planted `(orig, copy)` pairs. */
  def dedupCorpus(n: Int, planted: Int, len: Int, vocab: Int,
      seed: Long): (Array[String], Array[(Long, Long)]) = {
    require(planted * 2 <= n, "planted pairs need distinct originals")
    val r = new Random(seed ^ 0xd0d0L)
    val words = Array.tabulate(vocab)(i => "w" + Integer.toString(i, 36))
    val docs = Array.fill(n)(Array.fill(len)(words(r.nextInt(vocab))))
    // copies sit in the upper half, originals in the lower half, so no
    // document is both an original and a copy
    val copies = r.shuffle((n / 2 until n).toVector).take(planted)
    val pairs = copies.map { c =>
      val orig = r.nextInt(n / 2)
      val d = docs(orig).clone()
      // one substitution per ~60 tokens keeps word-3-shingle Jaccard ~0.9
      (0 until math.max(1, len / 60)).foreach(_ => d(r.nextInt(len)) = words(r.nextInt(vocab)))
      docs(c) = d
      (orig.toLong, c.toLong)
    }
    (docs.map(_.mkString(" ")), pairs.toArray)
  }

  /** Seeded JPEG corpus of `shards x perShard` images of `w x h` under
    * `root`, cached by (seed, size). Files `shard_SS/img_NNNNN.jpg`; in
    * every shard `corruptPerShard` files are planted undecodable. Generated on `threads` threads; each image
    * depends only on (seed, index). */
  def jpegCorpus(root: Path, shards: Int, perShard: Int, w: Int, h: Int,
      corruptPerShard: Int, seed: Long, threads: Int): JpegCorpus = {
    val dir = root.resolve(s"jpeg-s$seed-${shards}x$perShard-${w}x$h-c$corruptPerShard")
    val r = new Random(seed ^ 0xbadL)
    val corrupt = (0 until shards).flatMap { s =>
      r.shuffle((0 until perShard).toVector).take(corruptPerShard).map(s * perShard + _)
    }.toSet
    if (!Files.exists(dir.resolve("_COMPLETE"))) {
      deleteTree(dir)
      (0 until shards).foreach(s => Files.createDirectories(dir.resolve(f"shard_$s%02d")))
      val pool = Executors.newFixedThreadPool(threads)
      try {
        val futures = (0 until shards * perShard).map { i =>
          pool.submit(new Runnable {
            def run(): Unit = writeImage(dir.resolve(f"shard_${i / perShard}%02d"),
              i, w, h, seed, corrupt(i))
          })
        }
        futures.foreach(_.get())
      } finally {
        pool.shutdown()
        pool.awaitTermination(1, TimeUnit.MINUTES)
      }
      Files.write(dir.resolve("_COMPLETE"), Array.emptyByteArray)
    }
    JpegCorpus(dir, shards, perShard, corrupt)
  }

  final case class JpegCorpus(dir: Path, shards: Int, perShard: Int, corrupt: Set[Int]) {
    def shardDir(s: Int): Path = dir.resolve(f"shard_$s%02d")
    def fileName(i: Int): String = f"img_$i%05d.jpg"
    def files(s: Int): Seq[String] = (s * perShard until (s + 1) * perShard).map(fileName)
    def corruptFiles(s: Int): Set[String] =
      (s * perShard until (s + 1) * perShard).filter(corrupt).map(fileName).toSet
  }

  private def writeImage(dir: Path, i: Int, w: Int, h: Int, seed: Long,
      corrupt: Boolean): Unit = {
    val r = new Random(seed * 1000003L + i)
    val bytes =
      if (corrupt) {
        // random bytes led by "B\0", which is no installed reader's magic
        // (an empty file would not do: the binary-file scan skips it, so it
        // never reaches the decoder)
        val b = new Array[Byte](2048 + r.nextInt(2048)); r.nextBytes(b); b(0) = 0x42; b(1) = 0; b
      } else {
        val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        val g = img.createGraphics()
        try {
          def color() = new Color(r.nextInt(256), r.nextInt(256), r.nextInt(256))
          g.setPaint(new GradientPaint(0f, 0f, color(), w.toFloat, h.toFloat, color()))
          g.fillRect(0, 0, w, h)
          g.setStroke(new BasicStroke(3f))
          // a fixed shape count keeps decode cost alike across seeds
          (0 until 9).foreach { _ =>
            g.setColor(color())
            val x = r.nextInt(w); val y = r.nextInt(h)
            val rw = 20 + r.nextInt(w / 3); val rh = 20 + r.nextInt(h / 3)
            r.nextInt(3) match {
              case 0 => g.fillOval(x, y, rw, rh)
              case 1 => g.fillRect(x, y, rw, rh)
              case _ => g.drawLine(x, y, r.nextInt(w), r.nextInt(h))
            }
          }
        } finally g.dispose()
        val out = new ByteArrayOutputStream(64 << 10)
        require(ImageIO.write(img, "jpg", out), "no JPEG writer installed")
        out.toByteArray
      }
    val tmp = dir.resolve(f"img_$i%05d.jpg.tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(f"img_$i%05d.jpg"), StandardCopyOption.ATOMIC_MOVE)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => Files.delete(q))
      finally s.close()
    }
}
