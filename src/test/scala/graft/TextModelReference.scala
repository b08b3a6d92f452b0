package graft

/** Plain-Scala reference for the five trained text models: each trains
  * from a collected corpus and scores documents with ordinary
  * collections, independent of Spark. A micro-nat is
  * `round(1e6 · ln(num/den))` with `StrictMath.log` (what Spark's `log`
  * calls) rounded HALF_UP through the decimal string (Spark's `round`
  * on a double). Each scorer returns id → its entry's output row. */
object TextModelReference {
  type Corpus = Seq[(Long, String)]

  def micro(num: Long, den: Long): Long =
    BigDecimal(StrictMath.log(num.toDouble / den.toDouble) * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).longValue

  /** Spark's `split(lower(text), " ")`: trailing empties kept. */
  def tokens(text: String): Seq[String] =
    text.toLowerCase(java.util.Locale.ROOT).split(" ", -1).toSeq

  /** Spark's string order: unsigned UTF-8 bytes. */
  private val utf8Order: Ordering[String] = (a: String, b: String) => {
    val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    val i = x.indices.find(i => i >= y.length || x(i) != y(i))
    i match {
      case None => x.length - y.length
      case Some(k) if k >= y.length => 1
      case Some(k) => (x(k) & 0xff) - (y(k) & 0xff)
    }
  }

  private def live(docs: Corpus) = docs.filter(_._2 != null)
  private def counts[K](ks: Iterable[K]): Map[K, Long] =
    ks.groupMapReduce(identity)(_ => 1L)(_ + _)

  /** Top-`v` tokens by count desc, ties to the smaller token. */
  def vocab(docs: Corpus, v: Int): Seq[(String, Long)] =
    counts(live(docs).flatMap(d => tokens(d._2))).toSeq
      .sorted(Ordering.Tuple2(Ordering.Long.reverse, utf8Order)
        .on[(String, Long)] { case (t, c) => (c, t) })
      .take(v)

  private def grams(ws: Seq[String], k: Int): Seq[Seq[String]] =
    if (ws.size < k) Nil else ws.sliding(k).toSeq

  /** id → (n_toks, lp_sum_micro). */
  def unigram(train: Corpus, v: Int, score: Corpus): Map[Long, (Long, Long)] = {
    val vc = vocab(train, v).toMap
    val den = live(train).map(d => tokens(d._2).size.toLong).sum + vc.size + 1L
    live(score).map { case (id, t) =>
      val ws = tokens(t)
      id -> (ws.size.toLong, ws.map(w => micro(vc.getOrElse(w, 0L) + 1L, den)).sum)
    }.toMap
  }

  private def mapped(docs: Corpus, vocabSet: Set[String]): Seq[(Long, Seq[String])] =
    live(docs).map { case (id, t) =>
      id -> tokens(t).map(w => if (vocabSet(w)) w else "<oov>") }

  /** id → (n_bigrams, lp_sum_micro), rows with ≥ 2 tokens. */
  def bigram(train: Corpus, v: Int, score: Corpus): Map[Long, (Long, Long)] = {
    val vs = vocab(train, v).map(_._1).toSet
    val m = mapped(train, vs).map(_._2)
    val c1 = counts(m.flatten)
    val c12 = counts(m.flatMap(grams(_, 2)))
    mapped(score, vs).collect { case (id, ws) if ws.size >= 2 =>
      id -> ((ws.size - 1).toLong, grams(ws, 2).map(p =>
        micro(c12.getOrElse(p, 0L) + 1L, c1.getOrElse(p(0), 0L) + vs.size + 1L)).sum)
    }.toMap
  }

  /** id → (n_trigrams, lp_sum_micro), rows with ≥ 3 tokens. */
  def trigram(train: Corpus, v: Int, score: Corpus, trigramMin: Long = 2L,
              bigramMin: Long = 2L): Map[Long, (Long, Long)] = {
    val pen = -916291L
    val vs = vocab(train, v).map(_._1).toSet
    val m = mapped(train, vs).map(_._2)
    val uni = counts(m.flatten)
    val bi = counts(m.flatMap(grams(_, 2)))
    val tri = counts(m.flatMap(grams(_, 3)))
    val n = uni.values.sum
    def lp(g: Seq[String]): Long =
      if (tri.getOrElse(g, 0L) >= trigramMin)
        micro(tri(g), bi.getOrElse(g.take(2), 1L))
      else if (bi.getOrElse(g.drop(1), 0L) >= bigramMin)
        pen + micro(bi(g.drop(1)), uni.getOrElse(g(1), 1L))
      else 2 * pen + micro(uni.getOrElse(g(2), 1L), n)
    mapped(score, vs).collect { case (id, ws) if ws.size >= 3 =>
      id -> ((ws.size - 2).toLong, grams(ws, 3).map(lp).sum)
    }.toMap
  }

  /** Per-label scores of a Laplace label-count classifier: label → the
    * feature counts, the total, the prior; `k` the smoothing width. */
  private def labelScores[F](labels: Seq[String], ctk: Map[(String, F), Long],
                             ctot: Map[String, Long], prior: Map[String, Long],
                             k: Long, feats: Seq[F]): Seq[Long] =
    labels.map(l => prior(l) + feats.map(f =>
      micro(ctk.getOrElse((l, f), 0L) + 1L, ctot(l) + k + 1L)).sum)

  private def priors(train: Seq[(Long, String, String)]): Map[String, Long] =
    counts(train.map(_._3)).map { case (l, c) => l -> micro(c, train.size.toLong) }

  private def argmax(labels: Seq[String], s: Seq[Long]): (String, Long) = {
    val i = s.indexOf(s.max)
    (labels(i), s(i))
  }

  /** Multinomial NB over (id, text, label): id → per-label scores. */
  def nbScores(train: Seq[(Long, String, String)], v: Int,
               score: Corpus): (Seq[String], Map[Long, Seq[Long]]) = {
    val vs = vocab(train.map(d => (d._1, d._2)), v).map(_._1).toSet
    val toks = train.filter(_._2 != null).map(d => d._3 -> tokens(d._2))
    val ctot = toks.groupMapReduce(_._1)(_._2.size.toLong)(_ + _)
    val ctk = counts(toks.flatMap { case (l, ws) => ws.filter(vs).map(l -> _) })
    val labels = ctot.keys.toSeq.sorted(utf8Order)
    val prior = priors(train)
    // an OOV token is never in ctk, so it weighs ln(1/(ctot+V+1))
    (labels, live(score).map { case (id, t) =>
      id -> labelScores(labels, ctk, ctot, prior, vs.size.toLong, tokens(t))
    }.toMap)
  }

  /** id → (pred, score_micro) of NB. */
  def nb(train: Seq[(Long, String, String)], v: Int,
         score: Corpus): Map[Long, (String, Long)] = {
    val (labels, s) = nbScores(train, v, score)
    s.map { case (id, sc) => id -> argmax(labels, sc) }
  }

  /** The hashed feature slot: 52-bit md5 prefix of `seed_feature` mod B. */
  def slot(feature: String, buckets: Int, seed: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${seed}_$feature".getBytes("UTF-8"))
    val hex = d.map(b => f"${b & 0xff}%02x").mkString.take(13)
    java.lang.Long.parseLong(hex, 16) % buckets
  }

  private def features(text: String, buckets: Int, seed: String): Seq[Long] = {
    val ws = tokens(text)
    (ws ++ grams(ws, 2).map(_.mkString("_"))).map(slot(_, buckets, seed))
  }

  /** Hashed-linear over (id, text, label): (labels, id → per-label scores). */
  def hlScores(train: Seq[(Long, String, String)], buckets: Int, seed: String,
               score: Corpus): (Seq[String], Map[Long, Seq[Long]]) = {
    val fs = train.filter(_._2 != null)
      .map(d => d._3 -> features(d._2, buckets, seed))
    val ctot = fs.groupMapReduce(_._1)(_._2.size.toLong)(_ + _)
    val ctk = counts(fs.flatMap { case (l, s) => s.map(l -> _) })
    val labels = ctot.keys.toSeq.sorted(utf8Order)
    val prior = priors(train)
    (labels, live(score).map { case (id, t) =>
      id -> labelScores(labels, ctk, ctot, prior, buckets.toLong,
        features(t, buckets, seed))
    }.toMap)
  }

  /** id → (pred, score_micro) of hashed-linear. */
  def hl(train: Seq[(Long, String, String)], buckets: Int, seed: String,
         score: Corpus): Map[Long, (String, Long)] = {
    val (labels, s) = hlScores(train, buckets, seed, score)
    s.map { case (id, sc) => id -> argmax(labels, sc) }
  }

  /** id → score(target) − max over the other labels. */
  def hlMargin(train: Seq[(Long, String, String)], buckets: Int, seed: String,
               score: Corpus, target: String): Map[Long, Long] = {
    val (labels, s) = hlScores(train, buckets, seed, score)
    val ti = labels.indexOf(target)
    s.map { case (id, sc) => id -> (sc(ti) - sc.patch(ti, Nil, 1).max) }
  }

  /** A documents frame collected as (id, text, lang). */
  def collect(df: org.apache.spark.sql.DataFrame,
              label: String = "lang"): Seq[(Long, String, String)] =
    df.select("doc_id", "text", label).collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
}
