package perfbench

import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Seeded input generator. Everything the engine sees is built here from
  * `--seed`: the same seed gives byte-identical documents, questions and
  * batch schedules. The engine receives only these generated inputs.
  */
object Gen {

  /** The test data's `documents.text` vocabulary (31 words) and its
    * `part.p_name` words form the shared core; the wider per-language
    * lists give the documents enough spread for retrieval and language
    * identification to have something to separate.
    */
  val TestdataWords: Array[String] = ("a agg batch big column customer data dup fast filter group " +
    "hash join key line merge order part query row scan slow small sort spark stream table the " +
    "value vector window anvil blue bolt cold economy gear gizmo hot large medium new old plate " +
    "promo red ring rod standard widget").split(" ")

  val En: Array[String] = TestdataWords ++ ("of to in and is that for it as with was on be at by " +
    "this from or an are not have had were which their has been would there will more when who " +
    "also about into other time than only its first some could these two may then over after " +
    "most such where through because between those under while both each many made before how " +
    "system model engine index store cache memory disk network server client request response " +
    "latency throughput record segment manifest version commit snapshot compaction partition " +
    "shuffle broadcast executor worker task stage job plan optimizer catalyst parquet schema " +
    "embedding similarity retrieval question answer context chunk document corpus token language " +
    "dedup signature shingle cluster centroid probe recall precision ranking score threshold " +
    "keyword lexical posting bucket window river mountain forest garden village harbor market " +
    "bridge castle island valley meadow winter summer autumn spring morning evening journey letter " +
    "story history science music painting theater festival kitchen recipe bread cheese apple " +
    "orange lemon coffee tea honey garden farmer teacher doctor student artist engineer pilot " +
    "sailor merchant soldier mason writer reader painter singer dancer runner walker climber " +
    "quick quiet bright dark heavy light early late simple complex careful strong gentle").split(" ")

  val Es: Array[String] = ("el la los las de del y en que un una por con para es su al lo como " +
    "más pero sus le ya o este sí porque esta entre cuando muy sin sobre también me hasta hay " +
    "donde quien desde todo nos durante todos uno les ni contra otros ese eso ante ellos e esto " +
    "antes algunos qué unos yo otro otras otra él tanto esa estos mucho quienes nada muchos cual " +
    "casa perro gato río montaña bosque jardín pueblo mercado puente castillo isla valle invierno " +
    "verano otoño primavera mañana tarde noche viaje carta historia ciencia música pintura teatro " +
    "fiesta cocina receta pan queso manzana naranja limón café miel granja maestro médico " +
    "estudiante artista ingeniero piloto marinero soldado escritor lector tienda ciudad calle " +
    "playa mar sol luna estrella agua fuego tierra aire camino coche tren barco libro mesa silla").split(" ")

  val De: Array[String] = ("der die das und in den von zu mit sich des auf für ist im dem nicht " +
    "ein eine als auch es an werden aus er hat dass sie nach wird bei einer um am sind noch wie " +
    "einem über einen so zum war haben nur oder aber vor zur bis mehr durch man sein wurde sei " +
    "haus hund katze fluss berg wald garten dorf markt brücke burg insel tal winter sommer herbst " +
    "frühling morgen abend nacht reise brief geschichte wissenschaft musik malerei theater fest " +
    "küche rezept brot käse apfel orange zitrone kaffee honig bauer lehrer arzt student künstler " +
    "ingenieur pilot seemann soldat schreiber leser laden stadt straße strand meer sonne mond stern " +
    "wasser feuer erde luft weg wagen zug schiff buch tisch stuhl fenster tür schule kirche").split(" ")

  val Fr: Array[String] = ("le la les de des du et en un une que qui dans pour pas au sur avec " +
    "ne se par il plus ce son est sont aux elle ils comme mais ou tout nous leur sa été fait " +
    "cette ses bien sans deux peut dont aussi même où entre fait après avant encore toujours " +
    "maison chien chat rivière montagne forêt jardin village marché pont château île vallée hiver " +
    "été automne printemps matin soir nuit voyage lettre histoire science musique peinture théâtre " +
    "fête cuisine recette pain fromage pomme orange citron café miel fermier professeur médecin " +
    "étudiant artiste ingénieur pilote marin soldat écrivain lecteur magasin ville rue plage mer " +
    "soleil lune étoile eau feu terre air chemin voiture train bateau livre table chaise fenêtre").split(" ")

  val Langs: Array[(String, Array[String], Double)] =
    Array(("en", En, 0.70), ("es", Es, 0.10), ("de", De, 0.10), ("fr", Fr, 0.10))

  /** A generated document. `group` is the index of the original it was
    * made from (its own, for an original), so injected duplicates share
    * their original's group; `kind` is 'o' (original), 'e' (exact copy)
    * or 'n' (near copy).
    */
  final case class Doc(id: String, lang: String, text: String, group: Int, kind: Char)

  /** Corpus shape. Originals are 20–400 words long; of all documents
    * emitted, 5 % are exact copies and 5 % near copies of an earlier
    * original, a near copy having 3 % of its words replaced. Each
    * language has 16 topics per seed.
    */
  val MinWords = 20
  val MaxWords = 400
  val ExactShare = 0.05
  val NearShare = 0.05
  val NearEditShare = 0.03
  val Topics = 16

  final class Source(seed: Long) {
    private val rnd = new SplittableRandom(seed)
    // each language's topics are word subsets drawn once per seed
    private val topicWords: Map[String, Array[Array[String]]] = Langs.map { case (l, v, _) =>
      l -> Array.fill(Topics)(Array.fill(math.min(40, v.length / 3))(v(rnd.nextInt(v.length))))
    }.toMap
    private val originals = ArrayBuffer[(Array[String], String, Long)]()
    private var nextId = 0

    private def pickLang(): (String, Array[String]) = {
      val u = rnd.nextDouble()
      var acc = 0.0
      Langs.find { case (_, _, p) => acc += p; u < acc }
        .orElse(Some(Langs.last)).map(t => (t._1, t._2)).get
    }

    private def words(lang: String, vocab: Array[String], n: Int): Array[String] = {
      val topic = topicWords(lang)(rnd.nextInt(Topics))
      Array.fill(n)(if (rnd.nextDouble() < 0.7) topic(rnd.nextInt(topic.length))
                    else vocab(rnd.nextInt(vocab.length)))
    }

    private def newId(lang: String): String = { nextId += 1; f"$lang-$seed%d-$nextId%07d" }

    /** One original document of `n` words. */
    def original(n: Int): Doc = {
      val (lang, vocab) = pickLang()
      val w = words(lang, vocab, n)
      val layout = rnd.nextLong()
      originals += ((w, lang, layout))
      Doc(newId(lang), lang, Gen.render(w, layout), originals.size - 1, 'o')
    }

    /** An exact ('e') or near ('n') copy of a random earlier original. */
    private def copy(kind: Char): Doc = {
      val g = rnd.nextInt(originals.size)
      val (w, lang, layout) = originals(g)
      if (kind == 'e') Doc(newId(lang), lang, Gen.render(w, layout), g, 'e')
      else {
        val vocab = Langs.find(_._1 == lang).get._2
        val edited = w.clone()
        val edits = math.max(1, (w.length * NearEditShare).toInt)
        (0 until edits).foreach(_ => edited(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.length)))
        Doc(newId(lang), lang, Gen.render(edited, layout), g, 'n')
      }
    }

    /** `n` documents in random order: exactly the shares above of exact
      * and near copies, the rest originals whose lengths are the evenly
      * spaced quantiles of a log-uniform length (many short documents, a
      * long tail of long ones). Every batch of the same size therefore
      * holds the same number of original words, whatever the seed.
      */
    def batch(n: Int): Seq[Doc] = {
      val nExact = math.round(n * ExactShare).toInt
      val nNear = math.round(n * NearShare).toInt
      val nOrig = n - nExact - nNear
      val lo = math.log(MinWords.toDouble)
      val hi = math.log(MaxWords.toDouble)
      val origs = shuffle((0 until nOrig).map(i => math.exp(lo + (i + 0.5) / nOrig * (hi - lo)).toInt), rnd)
        .map(original)
      shuffle(origs ++ Seq.fill(nExact)(copy('e')) ++ Seq.fill(nNear)(copy('n')), rnd)
    }

    /** A run of `n` consecutive words out of `text`'s words. */
    def window(text: String, n: Int): String = {
      val w = text.split("\\s+").map(_.stripSuffix("."))
      val start = if (w.length <= n) 0 else rnd.nextInt(w.length - n + 1)
      w.slice(start, start + n).mkString(" ")
    }

    /** Labeled language-identification training sentences. */
    def labeled(perLang: Int, wordsEach: Int): Seq[(String, String)] =
      Langs.toSeq.flatMap { case (l, v, _) =>
        (0 until perLang).map(_ => (l, words(l, v, wordsEach).mkString(" ")))
      }
  }

  /** Fisher–Yates shuffle driven by `rnd`. */
  def shuffle[T](xs: Seq[T], rnd: SplittableRandom): Seq[T] = {
    val a = ArrayBuffer.from(xs)
    for (i <- a.indices.reverse) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toSeq
  }

  /** Renders words into sentences (6–14 words, period-terminated) and
    * paragraphs (2–5 sentences, blank-line separated). The layout seed
    * is kept with the original so a near copy keeps its structure.
    */
  def render(w: Array[String], layout: Long): String = {
    val r = new SplittableRandom(layout)
    val sb = new StringBuilder
    var i = 0
    var inPara = 0
    var paraLen = 2 + r.nextInt(4)
    while (i < w.length) {
      val n = math.min(6 + r.nextInt(9), w.length - i)
      if (sb.nonEmpty) sb.append(if (inPara == 0) "\n\n" else " ")
      sb.append(w.slice(i, i + n).mkString(" ")).append('.')
      i += n
      inPara += 1
      if (inPara == paraLen) { inPara = 0; paraLen = 2 + r.nextInt(4) }
    }
    sb.toString
  }
}
