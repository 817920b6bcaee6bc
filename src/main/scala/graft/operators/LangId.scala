package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextKernels

/** Trained language identification over hashed char-n-gram features —
  * the real replacement for marker-word voting (q24): per-language
  * weight vectors (multinomial naive Bayes over [[TextKernels.md5Bucket]]
  * buckets) ride the plan as constants; ONE kernel walk scores every
  * language; argmax-with-margin is plain Column arithmetic. The
  * fastText-style shape (Joulin et al. 2017) at classifier scale: no
  * vocabulary table, no join, no shuffle — the corpus streams through a
  * projection at any size, exactly like q90's quality classifier.
  *
  * The built-in [[LangId.default]] model trains at first use (driver-
  * side, milliseconds) from [[LangId.seedCorpus]] — short common-topic
  * texts composed for fifteen languages across eight scripts; swap in a real
  * training corpus via [[LangId.train]] for production accuracy. The
  * md5 bucket hash is deliberately the PORTABLE form so the DuckDB
  * oracle (and any external trainer) replays bucket assignment exactly;
  * weights are 5-dp-scaled longs (exact integer sums, engine-portable).
  */
object LangId {

  /** One trained model: language codes (ascending), per-language
    * 5-dp-scaled NB log-prob weights (one long per bucket), gram size.
    */
  final case class Model(langs: Seq[String], scaled: Seq[Array[Long]],
                         n: Int) {
    require(langs == langs.sorted,
      "model languages must be ascending (deterministic argmax ties)")
    val nBuckets: Int = scaled.head.length
  }

  /** Seed texts (common-topic sentences, ~40-60 words per language) for
    * the built-in demo model. Original compositions over everyday
    * vocabulary; function words and inflection patterns carry the trigram
    * signal. Fifteen languages across eight scripts — Latin (de en es fr
    * it nl pt sv), Cyrillic (ru), Greek (el), Arabic (ar), Devanagari
    * (hi), Han (zh), Han+Kana (ja), Hangul (ko); all BMP code points so
    * char-trigram extraction agrees across engines. Swap in a real
    * corpus via [[train]] for production accuracy.
    */
  val seedCorpus: Seq[(String, String)] = Seq(
    "ar" -> ("الثعلب البني السريع يقفز فوق الكلب الكسول والأطفال يذهبون إلى " +
      "المدرسة هذا الصباح مع أصدقائهم لأنهم لا يريدون انتظار الحافلة التي " +
      "تتأخر دائما الطقس جميل ونحن نأكل الخبز مع الجبن بينما تستيقظ " +
      "المدينة ببطء"),
    "el" -> ("η γρήγορη καφέ αλεπού πηδάει πάνω από το τεμπέλικο σκυλί και " +
      "τα παιδιά πηγαίνουν στο σχολείο το πρωί με τους φίλους τους επειδή " +
      "δεν θέλουν να περιμένουν το λεωφορείο που πάντα αργεί ο καιρός είναι " +
      "όμορφος και τρώμε ψωμί με τυρί ενώ η πόλη ξυπνάει αργά"),
    "hi" -> ("तेज़ भूरी लोमड़ी आलसी कुत्ते के ऊपर कूदती है और बच्चे आज सुबह अपने " +
      "दोस्तों के साथ स्कूल जाते हैं क्योंकि वे बस का इंतज़ार नहीं करना चाहते जो हमेशा " +
      "देर से आती है मौसम सुंदर है और हम रोटी के साथ पनीर खाते हैं जबकि शहर " +
      "धीरे धीरे जागता है"),
    "ja" -> ("すばやい茶色のきつねはなまけものの犬をとびこえます 子どもたちはいつもおくれるバスを" +
      "まちたくないので けさ友だちと歩いて学校へ行きます 天気がよくて わたしたちはパンとチーズを" +
      "食べながら 町がゆっくり目をさますのを見ています"),
    "ko" -> ("빠른 갈색 여우가 게으른 개를 뛰어넘고 아이들은 늘 늦게 오는 버스를 " +
      "기다리기 싫어서 오늘 아침 친구들과 걸어서 학교에 갑니다 날씨가 좋아서 " +
      "우리는 도시가 천천히 깨어나는 동안 빵과 치즈를 먹습니다"),
    "ru" -> ("быстрая коричневая лиса прыгает через ленивую собаку и дети " +
      "идут сегодня утром в школу с друзьями потому что не хотят ждать " +
      "автобус который всегда опаздывает погода хорошая и мы едим хлеб с " +
      "сыром пока город медленно просыпается"),
    "zh" -> ("敏捷 的 棕色 狐狸 跳过 懒狗 孩子们 今天 早上 和 朋友 一起 走路 去 学校 " +
      "因为 他们 不想 等 总是 迟到 的 公共汽车 天气 很好 我们 一边 吃 面包 和 奶酪 " +
      "一边 看着 城市 慢慢 醒来"),
    "de" -> ("der schnelle braune fuchs springt über den faulen hund und die " +
      "kinder gehen heute morgen mit ihren freunden zur schule weil sie nicht " +
      "auf den bus warten wollen der immer zu spät kommt das wetter ist schön " +
      "und wir essen brot mit käse während die stadt langsam erwacht"),
    "en" -> ("the quick brown fox jumps over the lazy dog and the children are " +
      "walking to school with their friends this morning because they would " +
      "rather not wait for the bus which is always late the weather is lovely " +
      "and we are eating bread with cheese while the town slowly wakes up"),
    "es" -> ("el rápido zorro marrón salta sobre el perro perezoso y los niños " +
      "van a la escuela esta mañana con sus amigos porque no quieren esperar " +
      "el autobús que siempre llega tarde el tiempo es hermoso y comemos pan " +
      "con queso mientras la ciudad despierta lentamente"),
    "fr" -> ("le renard brun rapide saute par dessus le chien paresseux et les " +
      "enfants vont à l'école ce matin avec leurs amis parce qu'ils ne veulent " +
      "pas attendre le bus qui est toujours en retard le temps est magnifique " +
      "et nous mangeons du pain avec du fromage pendant que la ville se réveille"),
    "it" -> ("la veloce volpe marrone salta sopra il cane pigro e i bambini " +
      "vanno a scuola questa mattina con i loro amici perché non vogliono " +
      "aspettare l'autobus che è sempre in ritardo il tempo è bellissimo e " +
      "mangiamo pane con formaggio mentre la città si sveglia lentamente"),
    "nl" -> ("de snelle bruine vos springt over de luie hond en de kinderen " +
      "lopen vanmorgen met hun vrienden naar school omdat ze niet willen " +
      "wachten op de bus die altijd te laat komt het weer is prachtig en we " +
      "eten brood met kaas terwijl de stad langzaam wakker wordt"),
    "pt" -> ("a rápida raposa marrom pula sobre o cão preguiçoso e as crianças " +
      "vão à escola esta manhã com os seus amigos porque não querem esperar o " +
      "autocarro que está sempre atrasado o tempo está lindo e comemos pão com " +
      "queijo enquanto a cidade acorda lentamente"),
    "sv" -> ("den snabba bruna räven hoppar över den lata hunden och barnen " +
      "går till skolan i morse med sina vänner eftersom de inte vill vänta på " +
      "bussen som alltid är försenad vädret är vackert och vi äter bröd med " +
      "ost medan staden långsamt vaknar"))

  /** Train a multinomial-NB model: per language, count lowercased char
    * n-gram bucket hits, weight(b) = ln((count(b)+1)/(total+nBuckets))
    * (add-one smoothing), rounded to 5 dp and scaled ×1e5 into longs.
    * Driver-side pure Scala — training corpora are model-sized, not
    * data-sized; scoring is where the cluster spends.
    */
  def train(corpus: Seq[(String, String)], nBuckets: Int = 1024,
            n: Int = 3): Model = {
    require(corpus.nonEmpty, "training corpus must be non-empty")
    require(nBuckets > 0, s"nBuckets must be > 0, got $nBuckets")
    val byLang = corpus.sortBy(_._1)
    val scaled = byLang.map { case (_, text) =>
      val s = text.toLowerCase(java.util.Locale.ROOT)
      val counts = new Array[Long](nBuckets)
      var total = 0L
      var i = 0
      val last = s.length - n
      while (i <= last) {
        counts(TextKernels.md5Bucket(s.substring(i, i + n), nBuckets)) += 1
        total += 1
        i += 1
      }
      require(total > 0, "a training text is shorter than one n-gram")
      Array.tabulate(nBuckets) { b =>
        val lnp = math.log((counts(b) + 1.0) / (total + nBuckets.toDouble))
        math.round(lnp * 1e5)
      }
    }
    Model(byLang.map(_._1), scaled, n)
  }

  /** The built-in fifteen-language demo model (trained once, lazily). */
  lazy val default: Model = train(seedCorpus)

  /** Model → the `graft_lang_scores` literal (`lang:w0,w1,…|lang2:…`). */
  def encode(m: Model): String =
    m.langs.zip(m.scaled).map { case (l, w) => l + ":" + w.mkString(",") }
      .mkString("|")

  /** Raw per-language score sums: [n_grams, sum_0, …, sum_L−1] (longs;
    * language order = `model.langs`). Requires
    * [[graft.functions.GraftFunctions.ensureRegistered]].
    */
  def scores(text: Column, model: Model = default): Column =
    call_function("graft_lang_scores", text, lit(encode(model)),
      lit(model.n))

  /** Language prediction columns over `textCol`: appends `lang_pred`
    * (argmax; ties → first language in ascending code order; "und" when
    * the text is shorter than one n-gram), `n_grams`, `score` (best
    * mean log-prob) and `margin` (best − runner-up, mean) — the
    * confidence gate a mix/census decision keys on. Pure codegen
    * projection + array arithmetic; zero shuffles at any corpus size.
    */
  def predict(df: DataFrame, textCol: String,
              model: Model = default): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    val L = model.langs.length
    val arr = scores(col(textCol), model)
    val withArr = df.withColumn("__ls", arr)
    val nG = col("__ls").getItem(0)
    val sums = slice(col("__ls"), 2, L)
    val best = array_max(sums)
    val second = element_at(sort_array(sums, asc = false), 2)
    val langArr = array(model.langs.map(lit): _*)
    withArr
      // NULL text first: the element_at branch is declared non-nullable
      // (literal array, valid index) but a NULL score array makes its
      // index NULL — without the explicit NULL branch the CaseWhen
      // claims non-nullable and a null-text row corrupts the projection
      .withColumn("lang_pred",
        when(col("__ls").isNull, lit(null).cast("string"))
          .when(nG === 0, lit("und"))
          .otherwise(element_at(langArr,
            array_position(sums, best).cast("int"))))
      .withColumn("n_grams", nG)
      .withColumn("score",
        when(nG > 0, best.cast("double") / lit(1e5) / nG))
      .withColumn("margin",
        when(nG > 0, (best - second).cast("double") / lit(1e5) / nG))
      .drop("__ls")
  }
}
