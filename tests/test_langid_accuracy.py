"""Held-out language-ID accuracy (the A2 gate analog,
/root/reference/src/main.cpp:92-106 is the reference's input-gate slot).

The trigram profiles are trained on the checked-in LANG_SAMPLES corpus
(multi-KB, several registers per language). These held-out texts share
NO sentences with training — different topics entirely (cooking, sport,
a doctor's visit) — so the test measures generalization, not recall of
the training text. Floor: >= 0.9 accuracy per language (with 3 texts
per language that means all 3), full confusion matrix printed on
failure."""

from filtlong_spark import core

# 3 held-out texts per language: cooking / sport / health — none of
# these topics or sentences appear in core.LANG_SAMPLES.
HELD_OUT = {
    "en": [
        "cook the vegetables in a large pan with a little oil and salt "
        "then add the rice and let everything simmer slowly until the "
        "grains are soft and serve the meal warm with bread while the "
        "guests sit around the table and share stories from their week",
        "the team played very well in the second half and scored two "
        "goals before the final whistle the fans sang in the old stadium "
        "and the coach thanked the players for their effort after such a "
        "long and difficult season of matches",
        "the doctor told him to rest for a few days and drink plenty of "
        "water she wrote a small note for the office and said that he "
        "should come back next month if the pain in his shoulder did not "
        "go away on its own",
    ],
    "de": [
        "kochen sie das gemuese in einer grossen pfanne mit etwas oel "
        "und salz dann geben sie den reis dazu und lassen alles langsam "
        "kochen bis die koerner weich sind und servieren sie das essen "
        "warm mit brot waehrend die gaeste am tisch sitzen und "
        "geschichten erzaehlen",
        "die mannschaft spielte in der zweiten halbzeit sehr gut und "
        "schoss zwei tore vor dem schlusspfiff die fans sangen im alten "
        "stadion und der trainer dankte den spielern fuer ihren einsatz "
        "nach einer langen und schweren saison",
        "der arzt sagte ihm er solle sich ein paar tage ausruhen und "
        "viel wasser trinken sie schrieb eine kleine notiz fuer das "
        "buero und meinte er solle naechsten monat wiederkommen falls "
        "der schmerz in seiner schulter nicht von selbst verschwindet",
    ],
    "es": [
        "cocina las verduras en una sarten grande con un poco de aceite "
        "y sal luego agrega el arroz y deja que todo hierva despacio "
        "hasta que los granos esten blandos y sirve la comida caliente "
        "con pan mientras los invitados se sientan a la mesa y comparten "
        "historias de su semana",
        "el equipo jugo muy bien en la segunda parte y marco dos goles "
        "antes del pitido final los aficionados cantaron en el viejo "
        "estadio y el entrenador agradecio a los jugadores su esfuerzo "
        "despues de una temporada tan larga y dificil",
        "el medico le dijo que descansara unos dias y bebiera mucha "
        "agua escribio una pequena nota para la oficina y dijo que "
        "volviera el mes que viene si el dolor del hombro no "
        "desaparecia por si solo",
    ],
    "fr": [
        "faites cuire les legumes dans une grande poele avec un peu d "
        "huile et de sel puis ajoutez le riz et laissez tout mijoter "
        "doucement jusqu a ce que les grains soient tendres et servez "
        "le repas chaud avec du pain pendant que les invites assis a "
        "table partagent des histoires de leur semaine",
        "l equipe a tres bien joue en seconde periode et a marque deux "
        "buts avant le coup de sifflet final les supporters ont chante "
        "dans le vieux stade et l entraineur a remercie les joueurs "
        "pour leurs efforts apres une saison si longue et difficile",
        "le medecin lui a dit de se reposer quelques jours et de boire "
        "beaucoup d eau elle a ecrit une petite note pour le bureau et "
        "a dit de revenir le mois prochain si la douleur a l epaule ne "
        "partait pas toute seule",
    ],
    "it": [
        "cuoci le verdure in una padella grande con un poco di olio e "
        "sale poi aggiungi il riso e lascia che tutto cuocia lentamente "
        "finche i chicchi non sono morbidi e servi il pasto caldo con "
        "il pane mentre gli ospiti seduti a tavola raccontano storie "
        "della loro settimana",
        "la squadra ha giocato molto bene nel secondo tempo e ha "
        "segnato due gol prima del fischio finale i tifosi hanno "
        "cantato nel vecchio stadio e l allenatore ha ringraziato i "
        "giocatori per il loro impegno dopo una stagione cosi lunga e "
        "difficile",
        "il medico gli ha detto di riposare qualche giorno e di bere "
        "molta acqua ha scritto una piccola nota per l ufficio e ha "
        "detto di tornare il mese prossimo se il dolore alla spalla "
        "non fosse passato da solo",
    ],
    "pt": [
        "cozinhe os legumes numa frigideira grande com um pouco de "
        "azeite e sal depois junte o arroz e deixe tudo cozinhar "
        "devagar ate os graos ficarem macios e sirva a refeicao quente "
        "com pao enquanto os convidados sentados a mesa partilham "
        "historias da sua semana",
        "a equipa jogou muito bem na segunda parte e marcou dois golos "
        "antes do apito final os adeptos cantaram no velho estadio e o "
        "treinador agradeceu aos jogadores o seu esforco depois de uma "
        "epoca tao longa e dificil",
        "o medico disse lhe para descansar uns dias e beber muita agua "
        "escreveu um pequeno bilhete para o escritorio e disse para "
        "voltar no proximo mes se a dor no ombro nao passasse sozinha",
    ],
    "ru": [
        "приготовьте овощи на большой сковороде с небольшим количеством "
        "масла и соли затем добавьте рис и дайте всему медленно "
        "вариться пока зерна не станут мягкими подавайте еду теплой с "
        "хлебом пока гости сидят за столом и делятся историями своей "
        "недели",
        "команда очень хорошо играла во втором тайме и забила два гола "
        "до финального свистка болельщики пели на старом стадионе и "
        "тренер поблагодарил игроков за их усилия после такого долгого "
        "и трудного сезона",
        "врач сказал ему отдохнуть несколько дней и пить много воды "
        "она написала небольшую записку для офиса и сказала прийти в "
        "следующем месяце если боль в плече не пройдет сама",
    ],
    "zh": [
        "把蔬菜放进大锅里加一点油和盐然后加入米饭让一切慢慢煮到米粒变软"
        "再把热的饭菜和面包端上桌客人们坐在桌边分享他们一周的故事",
        "球队在下半场踢得很好在终场哨声前进了两个球球迷们在老球场里"
        "唱歌教练感谢球员们在漫长而艰难的赛季中的努力",
        "医生告诉他休息几天多喝水她为办公室写了一张小纸条并说如果肩膀"
        "的疼痛没有自己消失下个月再回来看看",
    ],
    "ar": [
        "اطبخ الخضار في مقلاة كبيرة مع قليل من الزيت والملح ثم اضف "
        "الارز واترك كل شيء يغلي ببطء حتى تصبح الحبوب طرية وقدم الطعام "
        "دافئا مع الخبز بينما يجلس الضيوف حول الطاولة ويتشاركون قصص "
        "اسبوعهم",
        "لعب الفريق بشكل جيد جدا في الشوط الثاني وسجل هدفين قبل صافرة "
        "النهاية غنى المشجعون في الملعب القديم وشكر المدرب اللاعبين "
        "على جهدهم بعد موسم طويل وصعب",
        "قال الطبيب له ان يرتاح بضعة ايام ويشرب الكثير من الماء وكتبت "
        "ملاحظة صغيرة للمكتب وقالت ان يعود الشهر القادم اذا لم يختف "
        "الالم في كتفه من تلقاء نفسه",
    ],
    "ja": [
        "大きなフライパンで野菜を少しの油と塩でいためそれから米を加えて"
        "米がやわらかくなるまでゆっくり煮ます客が食卓にすわって一週間の"
        "話をするあいだに温かい食事をパンといっしょに出します",
        "チームは後半とてもよくプレーして終了の笛の前に二つのゴールを"
        "決めましたファンは古いスタジアムで歌い監督は長く苦しいシーズン"
        "の努力について選手たちに感謝しました",
        "医者は彼に数日休んで水をたくさん飲むように言いました彼女は"
        "事務所のために小さなメモを書き肩の痛みが自然に消えなければ"
        "来月また来るようにと言いました",
    ],
    "ko": [
        "큰 프라이팬에 기름과 소금을 조금 넣고 채소를 볶은 다음 쌀을 "
        "넣고 쌀알이 부드러워질 때까지 천천히 끓입니다 손님들이 식탁에 "
        "앉아 한 주의 이야기를 나누는 동안 따뜻한 음식을 빵과 함께 "
        "내놓습니다",
        "팀은 후반전에 아주 잘 뛰었고 종료 휘슬 전에 두 골을 "
        "넣었습니다 팬들은 오래된 경기장에서 노래를 불렀고 감독은 길고 "
        "힘든 시즌 동안의 노력에 대해 선수들에게 감사했습니다",
        "의사는 그에게 며칠 쉬고 물을 많이 마시라고 말했습니다 그녀는 "
        "사무실을 위해 작은 쪽지를 썼고 어깨의 통증이 저절로 사라지지 "
        "않으면 다음 달에 다시 오라고 했습니다",
    ],
    "hi": [
        "सब्जियों को एक बड़ी कड़ाही में थोड़े तेल और नमक के साथ पकाओ "
        "फिर चावल डालो और सब कुछ धीरे धीरे पकने दो जब तक दाने नरम न हो "
        "जाएँ और मेहमानों के मेज पर बैठकर अपने हफ्ते की कहानियाँ बाँटते "
        "समय गरम खाना रोटी के साथ परोसो",
        "टीम ने दूसरे हाफ में बहुत अच्छा खेला और अंतिम सीटी से पहले दो "
        "गोल किए प्रशंसकों ने पुराने मैदान में गीत गाए और कोच ने इतने "
        "लंबे और कठिन सत्र के बाद खिलाड़ियों को उनकी मेहनत के लिए "
        "धन्यवाद दिया",
        "डॉक्टर ने उसे कुछ दिन आराम करने और खूब पानी पीने को कहा उसने "
        "दफ्तर के लिए एक छोटी सी पर्ची लिखी और कहा कि अगर कंधे का दर्द "
        "अपने आप न जाए तो अगले महीने फिर आना",
    ],
}


def _confusion():
    texts, gold = [], []
    for lang, ts in HELD_OUT.items():
        texts.extend(ts)
        gold.extend([lang] * len(ts))
    pred, conf = core.flat_predict_lang_texts(texts)
    return gold, list(pred), list(conf)


def test_held_out_accuracy_floor():
    gold, pred, conf = _confusion()
    per = {}
    for g, p in zip(gold, pred):
        hit, n = per.get(g, (0, 0))
        per[g] = (hit + (p == g), n + 1)
    misses = [(g, p) for g, p in zip(gold, pred) if g != p]
    msg = "confusion: " + ", ".join(f"{g}->{p}" for g, p in misses)
    assert set(per) == set(core.LANG_SAMPLES)
    for lang, (hit, n) in per.items():
        assert hit / n >= 0.9, f"{lang}: {hit}/{n}  ({msg})"


def test_held_out_confidence_positive():
    """Every held-out prediction must come with evidence (conf > 0) —
    a correct guess with zero matched trigrams would be luck, and the
    downstream langid gate treats conf as a real signal."""
    gold, pred, conf = _confusion()
    assert all(c > 0 for c in conf)


def test_script_short_circuit_priority():
    """Script-exclusive routing: kana beats Han (kanji+kana Japanese must
    not route to zh), Hangul beats both; pure Han routes zh even when
    the text shares zero trigrams with the zh training sample."""
    # kanji-heavy Japanese with only a few kana
    lang, _ = core.predict_lang("東京都の天気は晴れです")
    assert lang == "ja"
    # rare-topic Chinese (no sample overlap) still routes by script
    lang, _ = core.predict_lang("量子力学研究微观粒子的运动规律")
    assert lang == "zh"
    lang, _ = core.predict_lang("물리학은 자연을 연구한다")
    assert lang == "ko"


def test_bounded_sample_semantics():
    """LID reads only the first LID_SAMPLE_CHARS chars (the
    production-LID bounded sample): a doc that OPENS in English is
    classified en even when a much longer German tail follows, and the
    prediction is invariant to anything past the cap."""
    en_head = ("The committee reviewed the annual report and the board "
               "approved the budget for the coming year. ") * 12
    assert len(en_head) >= core.LID_SAMPLE_CHARS
    de_tail = ("Der Vorstand hat den Haushalt für das kommende Jahr "
               "genehmigt und den Bericht geprüft. ") * 200
    pred, _ = core.flat_predict_lang_texts([en_head + de_tail])
    assert pred[0] == "en"
    base, bc = core.flat_predict_lang_texts([en_head + "x" * 5000])
    alt, ac = core.flat_predict_lang_texts([en_head + "y" * 9000])
    assert base[0] == alt[0] and bc[0] == ac[0]


def test_lone_surrogate_does_not_crash():
    """surrogateescape upstream decoders can hand the kernel lone
    surrogates; they must count as unmatched trigram positions, not
    raise (surrogatepass, as in batch_tokenize)."""
    pred, conf = core.flat_predict_lang_texts(
        ["hello \ud800 world the and of to with that this from"])
    assert pred[0] == "en" and conf[0] > 0


def test_script_routing_needs_majority_share():
    """One quoted CJK name must NOT reroute an English document (the
    gate would silently drop it); genuinely-CJK text still routes."""
    en = ("The prime minister met reporters in 北京 on Tuesday and "
          "discussed the trade agreement with the visiting delegation "
          "before returning to the capital for further talks this week.")
    pred, _ = core.flat_predict_lang_texts([en])
    assert pred[0] == "en"
    pred2, conf2 = core.flat_predict_lang_texts(["量子力学研究微观粒子的运动规律"])
    assert pred2[0] == "zh" and conf2[0] > 0.5


# 3 SHORT texts per language (~15-40 chars — the hard regime: titles,
# chat, tweets). None share sentences with LANG_SAMPLES. Measured
# accuracy at authoring time: 35/36 — the single miss is the French
# weather sentence (predicted en at conf 0.22): it contains no
# accented French trigram and 'le/te/be' n-grams are common English.
SHORT_HELD_OUT = {
    "en": ["the weather is nice today",
           "please call me back tomorrow morning",
           "i would like a cup of coffee"],
    "de": ["das wetter ist heute schoen",
           "bitte ruf mich morgen frueh zurueck",
           "ich moechte eine tasse kaffee"],
    "es": ["el tiempo esta muy bueno hoy",
           "por favor llamame manana por la manana",
           "quiero una taza de cafe"],
    "fr": ["le temps est tres beau aujourd hui",   # known miss -> en
           "appelle moi demain matin s il te plait",
           "je voudrais une tasse de cafe"],
    "it": ["il tempo oggi e molto bello",
           "per favore richiamami domani mattina",
           "vorrei una tazza di caffe"],
    "pt": ["o tempo esta muito bom hoje",
           "por favor me ligue amanha de manha",
           "eu gostaria de uma xicara de cafe"],
    "ru": ["погода сегодня очень хорошая",
           "пожалуйста перезвони мне завтра утром",
           "я хочу чашку кофе"],
    "zh": ["今天天气很好", "请明天早上给我回电话", "我想要一杯咖啡"],
    "ar": ["الطقس جميل اليوم", "من فضلك اتصل بي غدا صباحا",
           "أريد فنجانا من القهوة"],
    "ja": ["今日は天気がとてもいいです", "明日の朝に電話をかけ直してください",
           "コーヒーを一杯ください"],
    "ko": ["오늘 날씨가 정말 좋아요", "내일 아침에 다시 전화해 주세요",
           "커피 한 잔 주세요"],
    "hi": ["आज मौसम बहुत अच्छा है", "कृपया कल सुबह मुझे वापस बुलाएं",
           "मुझे एक कप कॉफी चाहिए"],
}


def test_short_text_accuracy_floor():
    """Short-text regime: >= 2/3 per language and >= 0.9 overall.
    Pins the current 35/36 behavior without overclaiming — one French
    sentence is a documented near-miss (accentless French with heavy
    English-overlap trigrams)."""
    misses, total, ok = [], 0, 0
    per_lang = {}
    for lang, texts in SHORT_HELD_OUT.items():
        hits = 0
        for t in texts:
            pred, conf = core.predict_lang(t)
            total += 1
            if pred == lang:
                ok += 1
                hits += 1
            else:
                misses.append((lang, t, pred, round(conf, 3)))
        per_lang[lang] = hits
    assert ok / total >= 0.9, misses
    for lang, hits in per_lang.items():
        assert hits >= 2, (lang, misses)
