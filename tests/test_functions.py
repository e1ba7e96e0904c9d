"""Unit tests for the scalar/column kernels.

Modeled on the reference's kernel tests
(`/root/reference/tests/test_utils.py:9-139` exact-value asserts,
`/root/reference/fuzzycat/sandcrawler.py:93-157` table-driven slugifier
cases — semantics re-checked here, not copied).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from fuzzycat_spark.functions import (
    content_hash,
    doc_fingerprint,
    jaccard_col,
    lang_id_col,
    num_project,
    simhash32,
    slug_text,
    token_count,
    tokens_col,
    unicode_slugify,
    unicode_slugify_udf,
    word_shingles,
)
from fuzzycat_spark.functions.hashing import (
    hamming32,
    minhash_signature_udf,
)


def one(spark, text, col):
    df = spark.createDataFrame([(text,)], "text string")
    return df.select(col.alias("v")).first().v


# --- unicode slugify (sandcrawler-semantics: diacritic fold, punct strip) ---

@pytest.mark.parametrize(
    "raw,expected",
    [
        ("Hello, World!", "hello world"),
        ("Héllo Wörld", "hello world"),  # NFKD fold
        ("  spaces\t\tand\nnewlines ", "spaces and newlines"),
        ("MiXeD CaSe 123", "mixed case 123"),
        ("ﬁ ligature", "fi ligature"),  # NFKD compatibility decomposition
        ("em—dash and … ellipsis", "em dash and ellipsis"),
        ("", ""),
        (None, None),
    ],
)
def test_unicode_slugify_scalar(raw, expected):
    assert unicode_slugify(raw) == expected


def test_unicode_slugify_udf_matches_scalar(spark):
    cases = ["Héllo, Wörld!", "ﬁn—al…", "ascii only", "", "ＦＵＬＬＷＩＤＴＨ"]
    df = spark.createDataFrame([(c,) for c in cases], "text string")
    got = [r.v for r in df.select(unicode_slugify_udf(F.col("text")).alias("v")).collect()]
    assert got == [unicode_slugify(c) for c in cases]


# --- native slug/tokens/shingles ---

def test_slug_text(spark):
    assert one(spark, "Hello, World! 42", slug_text("text")) == "hello world 42"
    assert one(spark, "--- ---", slug_text("text")) == ""


def test_word_shingles(spark):
    v = one(spark, "a b c d", word_shingles("text", 3))
    assert v == ["a b c", "b c d"]
    # shorter than n -> whole slug as one shingle
    assert one(spark, "a b", word_shingles("text", 3)) == ["a b"]
    assert one(spark, "", word_shingles("text", 3)) == []


def test_num_project(spark):
    # reference semantics: utils.py:185-192
    assert one(spark, "page 123 of 4567", num_project("text")) == "page <NUM> of <NUM>"


def test_token_count(spark):
    assert one(spark, "one two three", token_count("text")) == 3
    assert one(spark, "", token_count("text")) == 0


def test_jaccard(spark):
    df = spark.createDataFrame([(["a", "b", "c"], ["b", "c", "d"])], "a array<string>, b array<string>")
    v = df.select(jaccard_col(F.col("a"), F.col("b")).alias("v")).first().v
    assert v == pytest.approx(2 / 4)


def test_lang_id(spark):
    assert one(spark, "the cat and the dog is in the house", lang_id_col("text")) == "en"
    assert one(spark, "der hund und die katze ist nicht da", lang_id_col("text")) == "de"
    assert one(spark, "xyzzy plugh", lang_id_col("text")) == "und"


# --- hashing ---

def test_content_hash_exact_dup(spark):
    df = spark.createDataFrame([("same text",), ("same text",), ("other",)], "text string")
    hashes = [r.v for r in df.select(content_hash("text").alias("v")).collect()]
    assert hashes[0] == hashes[1] != hashes[2]


def test_fingerprint_stable_under_small_edit(spark):
    a = "the quick brown fox jumps over the lazy dog again and again today"
    b = a.replace("lazy", "sleepy")  # one token changed -> min-shingle usually survives
    fa = one(spark, a, doc_fingerprint("text"))
    fb = one(spark, b, doc_fingerprint("text"))
    assert fa == fb  # deterministic for this fixture


def test_minhash_udf_identical_inputs_identical_sigs(spark):
    df = spark.createDataFrame([("a b c d e",), ("a b c d e",), ("z y x w v",)], "text string")
    udf = minhash_signature_udf(16)
    sigs = [r.v for r in df.select(udf(word_shingles("text", 3)).alias("v")).collect()]
    assert sigs[0] == sigs[1] != sigs[2]


def test_simhash_close_for_similar_far_for_different(spark):
    df = spark.createDataFrame(
        [
            ("a", "the quick brown fox jumps over the lazy dog " * 3),
            ("b", "the quick brown fox leaps over the lazy dog " * 3),
            ("c", "completely unrelated gibberish tokens here entirely distinct corpus"),
        ],
        "id string, text string",
    )
    fp = {r.id: r.v for r in df.select("id", simhash32(tokens_col("text")).alias("v")).collect()}
    d = spark.createDataFrame([(fp["a"], fp["b"]), (fp["a"], fp["c"])], "x long, y long")
    hams = [r.v for r in d.select(hamming32(F.col("x"), F.col("y")).alias("v")).collect()]
    assert hams[0] < hams[1]
    assert hams[0] <= 8


# --- sandcrawler_slugify: the reference's own naughty-string table -----------
# Ported verbatim (as data) from /root/reference/fuzzycat/sandcrawler.py:93-157
# — every case the reference asserts, including the char-map-only ones the
# NFKD approximation cannot produce (Greek transliteration, ø/ł/ß, OCR
# confusables, map-to-null glyphs).

SC_TABLE = [
    ("", ""),
    ("asdf", "asdf"),
    ("'Hello World!'", "helloworld"),
    ("ASDF", "asdf"),
    ("as\n  df", "asdf"),
    ("asł  bb ø", "aslbbo"),
    ("`hello¿", "hello"),
    ("علمية", "علمية"),
    ("期刊的数字", "期刊的数字"),
    ("les pré-impressions explorées à partir", "lespreimpressionsexploreesapartir"),
    ("γ-Globulin", "yglobulin"),
    ("\xb5meter", "umeter"),  # MICRO SIGN maps to u...
    ("μmeter", "μmeter"),  # ...but GREEK SMALL MU stays itself
    ("-9223372036854775808/-1", "92233720368547758081"),
    (r",./;'[]\-= <>?:\"{}|_+ !@#$%^&*()`~", ""),
    (
        " \n\r \x85          "
        "   ​  　",
        "",
    ),
    ("Ω≈ç√∫˜≤≥÷", "ωc"),
    ("åß∂ƒ©˙∆˚¬…æ", "asfae"),
    ("œ∑´®†¥¨ˆøπ“‘", "oeoπ"),
    ("¡™£¢∞§¶•ªº–≠ ", "tmao"),
    ("¸˛Ç◊ı˜Â¯˘¿", "cia"),
    ("ÅÍÎÏ˝ÓÔÒÚÆ☃", "aiiiooouae"),
    ("Œ„´‰ˇÁ¨ˆØ∏”’", "oeao"),
    ("`⁄€‹›ﬁﬂ‡°·‚—±", "fifl"),
    (
        "ЁЂЃЄЅІЇЈЉЊЋЌЍЎЏАБВГДЕЖЗИЙКЛМНОПРСТУФХЦЧШЩЪЫЬЭЮЯ"
        "абвгдежзийклмнопрстуфхцчшщъыьэюя",
        "еђгєѕііјљњћкиуџабвгдежзииклмнопрстуфхцчшщъыьэюя"
        "абвгдежзииклмнопрстуфхцчшщъыьэюя",
    ),
    ("⁰⁴⁵₀₁₂", "045012"),
    ("社會科學院語學研究所", "社會科學院語學研究所"),
    ("( ͡° ͜ʖ ͡°)", ""),
    ("👾 🙇 💁 🙅 🙆 🙋 🙎 🙍", "👾🙇💁🙅🙆🙋🙎🙍"),
    ("2️⃣ 3️⃣ 4️⃣ 5️⃣", "2345"),
    ("﷽ ", "﷽"),
    (
        "\"̗̺͖̹̯͓Ṯ̤͍̥͇͈h̲́e͏͓̼̗̙̼̣͔ ͇̜̱̠͓͍ͅN͕͠e̗̱z̘̝̜̺͙p̤̺̹͍̯͚e̠̻̠͜r̨̤͍̺̖͔̖̖d̠̟̭̬̝͟i̦͖̩͓͔̤a̠̗̬͉̙n͚͜ ̻̞̰͚ͅh̵͉i̳̞v̢͇ḙ͎͟-҉̭̩̼͔m̤̭̫i͕͇̝̦n̗͙ḍ̟ ̯̲͕͞ǫ̟̯̰̲͙̻̝f ̪̰̰̗̖̭̘͘c̦͍̲̞͍̩̙ḥ͚a̮͎̟̙͜ơ̩̹͎s̤.̝̝ ҉Z̡̖̜͖̰̣͉̜a͖̰͙̬͡l̲̫̳͍̩g̡̟̼̱͚̞̬ͅo̗͜.̟",
        "thenezperdianhivemindofchaoszalgo",
    ),
    ("Ｔｈｅ ｑｕｉｃｋ ｂｒｏｗｎ ｆｏｘ ｊｕｍｐｓ ｏｖｅｒ ｔｈｅ ｌａｚｙ ｄｏｇ", "thequickbrownfoxjumpsoverthelazydog"),
    ("𝕋𝕙𝕖 𝕢𝕦𝕚𝕔𝕜 𝕓𝕣𝕠𝕨𝕟 𝕗𝕠𝕩 𝕛𝕦𝕞𝕡𝕤 𝕠𝕧𝕖𝕣 𝕥𝕙𝕖 𝕝𝕒𝕫𝕪 𝕕𝕠𝕘 ", "thequickbrownfoxjumpsoverthelazydog"),
]


@pytest.mark.parametrize("raw,expected", SC_TABLE)
def test_sandcrawler_slugify_reference_table(raw, expected):
    from fuzzycat_spark.functions.normalize import sandcrawler_slugify

    assert sandcrawler_slugify(raw) == expected


def test_sandcrawler_slugify_udf_matches_scalar(spark):
    from fuzzycat_spark.functions.normalize import (
        sandcrawler_slugify,
        sandcrawler_slugify_udf,
    )

    cases = [raw for raw, _ in SC_TABLE if raw] + ["title: Some Paper", None]
    df = spark.createDataFrame([(c,) for c in cases], "text string")
    got = [
        r.v for r in df.select(sandcrawler_slugify_udf(F.col("text")).alias("v")).collect()
    ]
    assert got == [sandcrawler_slugify(c) for c in cases]


def test_sandcrawler_slugify_prefix_removal():
    from fuzzycat_spark.functions.normalize import sandcrawler_slugify

    # deliberate deviation from the reference's slug[:len(prefix)] typo
    # (sandcrawler.py:79): prefixes are REMOVED, cascade order preserved
    assert sandcrawler_slugify("title: Dark Matter") == "darkmatter"
    assert sandcrawler_slugify("original article: article: x") == "x"


def test_prepare_pages_unicode_slug_mode(spark):
    from fuzzycat_spark.operators.verify import prepare_pages

    df = spark.createDataFrame(
        [("a", "Héllo Wörld Again Today Fine"), ("b", "Héllo Wörld Again Today Fine")],
        "url string, text string",
    )
    prep = prepare_pages(df, slug_mode="unicode")
    rows = {r.id: r for r in prep.collect()}
    assert rows["a"].slug_key == rows["b"].slug_key
    assert rows["a"].n_tok == 5


# --- nysiis phonetic key ------------------------------------------------

@pytest.mark.parametrize(
    "name,code",
    [
        ("MACINTOSH", "MCANT"),
        ("KNIGHT", "NAGT"),
        ("KNUTH", "NAT"),
        ("MITCHELL", "MATCAL"),
        ("BISHOP", "BASAP"),
        ("BROWN", "BRAN"),
        ("PFEISTER", "FASTAR"),
        ("PHILLIPS", "FALAP"),
        ("O'Daniel", "ODANAL"),
        ("SCHMIDT", "SNAD"),
        ("", ""),
        (None, None),
        ("123", ""),
        ("knight", "NAGT"),  # case-insensitive
    ],
)
def test_nysiis_reference_vectors(name, code):
    from fuzzycat_spark.functions.phonetic import nysiis

    assert nysiis(name) == code


def test_nysiis_udf_blocks_homophones(spark):
    from fuzzycat_spark.functions.phonetic import nysiis, nysiis_key

    names = ["Johnson", "Jonson", "Knight", "Night", "Smith", "Schmidt"]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = {r.name: r.k for r in df.select("name", nysiis_key(F.col("name")).alias("k")).collect()}
    assert got == {n: nysiis(n) for n in names}
    assert got["Johnson"] == got["Jonson"]
    assert got["Knight"] == got["Night"]


def test_lang_id_real_sentences(spark):
    from fuzzycat_spark.functions.text import lang_id_col

    cases = {
        "en": "the cat sat on the mat and it was happy with this for a while",
        "de": "der hund ist nicht mit der katze und das ist auch ein problem",
        "fr": "le chat est dans la maison et il ne veut pas sortir pour le moment",
        "es": "el perro es un animal que vive en la casa con los otros animales",
        "it": "il gatto non vuole essere anche nella casa come gli altri animali",
        "pt": "o gato esta na casa e nao quer sair para o jardim com os outros",
    }
    df = spark.createDataFrame(
        [(lang, text) for lang, text in cases.items()], "lang string, text string"
    )
    got = {r.lang: r.pred for r in df.select("lang", lang_id_col("text").alias("pred")).collect()}
    hits = sum(1 for k, v in got.items() if k == v)
    assert hits >= 5, got


LANG_EVAL_SENTENCES = {
    "en": [
        "The weather was terrible yesterday but we decided to walk to the old market because it is close to our house.",
        "She has been working on this project for two years and the results are more interesting than anyone expected.",
        "Most of the people in the room did not know what they were supposed to do after the meeting ended.",
        "There will always be some questions that cannot be answered by looking only at the data from the first experiment.",
    ],
    "de": [
        "Das Wetter war gestern schlecht, aber wir sind trotzdem mit dem Fahrrad zur Arbeit gefahren, weil der Bus nicht kam.",
        "Sie hat zwei Jahre an diesem Projekt gearbeitet und die Ergebnisse sind besser als alle erwartet haben.",
        "Die meisten Menschen in der Stadt wussten nicht, was sie nach dem Ende der Veranstaltung machen sollten.",
        "Es wird immer Fragen geben, die man nicht nur mit den Daten aus dem ersten Versuch beantworten kann.",
    ],
    "fr": [
        "Le temps etait mauvais hier mais nous avons decide de marcher vers le vieux marche parce qu'il est pres de chez nous.",
        "Elle travaille sur ce projet depuis deux ans et les resultats sont plus interessants que prevu.",
        "La plupart des gens dans la salle ne savaient pas ce qu'ils devaient faire apres la fin de la reunion.",
        "Il y aura toujours des questions qui ne peuvent pas etre resolues avec les donnees de la premiere experience.",
    ],
    "es": [
        "El tiempo era malo ayer pero decidimos caminar hasta el mercado viejo porque esta cerca de nuestra casa.",
        "Ella ha trabajado en este proyecto durante dos anos y los resultados son mejores de lo que todos esperaban.",
        "La mayoria de las personas en la sala no sabian lo que tenian que hacer despues de la reunion.",
        "Siempre habra preguntas que no se pueden responder mirando solo los datos del primer experimento.",
    ],
    "it": [
        "Il tempo era brutto ieri ma abbiamo deciso di camminare verso il vecchio mercato perche e vicino alla nostra casa.",
        "Lei lavora a questo progetto da due anni e i risultati sono molto piu interessanti di quanto tutti pensavano.",
        "La maggior parte delle persone nella stanza non sapeva cosa fare dopo la fine della riunione.",
        "Ci saranno sempre delle domande che non si possono risolvere guardando solo i dati del primo esperimento.",
    ],
    "pt": [
        "O tempo estava ruim ontem mas decidimos caminhar ate o mercado velho porque fica perto da nossa casa.",
        "Ela trabalha neste projeto ha dois anos e os resultados sao melhores do que todos esperavam.",
        "A maioria das pessoas na sala nao sabia o que devia fazer depois do fim da reuniao.",
        "Sempre havera perguntas que nao podem ser respondidas olhando apenas os dados do primeiro experimento.",
    ],
    "nl": [
        "Het weer was gisteren slecht maar we hebben besloten om naar de oude markt te lopen omdat die dicht bij ons huis is.",
        "Zij werkt al twee jaar aan dit project en de resultaten zijn veel beter dan iedereen had verwacht.",
        "De meeste mensen in de zaal wisten niet wat ze moesten doen na het einde van de vergadering.",
        "Er zullen altijd vragen zijn die niet kunnen worden beantwoord met alleen de gegevens uit het eerste experiment.",
    ],
    "sv": [
        "Vi hade inte tid att besoka den gamla staden men det var en mycket fin resa och vi vill komma tillbaka.",
        "Hon har arbetat med detta projekt i tva ar och resultaten ar mycket battre an vad alla hade trott.",
        "De flesta i rummet visste inte vad de skulle gora efter att motet hade slutat for dagen.",
        "Det kommer alltid att finnas fragor som man inte kan svara pa genom att bara titta pa de forsta resultaten.",
    ],
    "da": [
        "Vejret var darligt i gar men vi besluttede at ga til det gamle marked fordi det ligger taet ved vores hus.",
        "Hun har arbejdet pa dette projekt i to ar og resultaterne er meget bedre end alle havde ventet.",
        "De fleste mennesker i rummet vidste ikke hvad de skulle gore efter at modet var slut.",
        "Der vil altid vaere sporgsmal som ikke kan besvares ved kun at se pa data fra det forste forsog.",
    ],
    "pl": [
        "Pogoda byla wczoraj bardzo zla ale postanowilismy isc na stary rynek bo jest blisko naszego domu.",
        "Ona pracuje nad tym projektem od dwoch lat i wyniki sa duzo lepsze niz wszyscy sie spodziewali.",
        "Wiekszosc ludzi na sali nie wiedziala co ma robic po zakonczeniu spotkania.",
        "Zawsze beda pytania na ktore nie mozna odpowiedziec patrzac tylko na dane z pierwszego eksperymentu.",
    ],
    "ro": [
        "Vremea a fost rea ieri dar am decis sa mergem pe jos la piata veche pentru ca este aproape de casa noastra.",
        "Ea lucreaza la acest proiect de doi ani si rezultatele sunt mult mai bune decat se astepta toata lumea.",
        "Cei mai multi oameni din sala nu stiau ce trebuie sa faca dupa ce s-a terminat intalnirea.",
        "Vor exista mereu intrebari la care nu se poate raspunde doar privind datele din primul experiment.",
    ],
    "id": [
        "Cuaca kemarin sangat buruk tetapi kami memutuskan untuk berjalan ke pasar lama karena dekat dengan rumah kami.",
        "Dia sudah bekerja pada proyek ini selama dua tahun dan hasilnya jauh lebih baik dari yang diharapkan semua orang.",
        "Sebagian besar orang di ruangan itu tidak tahu apa yang harus mereka lakukan setelah pertemuan berakhir.",
        "Akan selalu ada pertanyaan yang tidak dapat dijawab hanya dengan melihat data dari percobaan pertama.",
    ],
    "tr": [
        "Hava dun cok kotuydu ama eski pazara yurumeye karar verdik cunku evimize cok yakin bir yerde.",
        "O bu proje ile iki yildir ugrasiyor ve sonuclar herkesin beklediginden daha iyi oldu.",
        "Odadaki insanlarin cogu toplanti bittikten sonra ne yapmalari gerektigini bilmiyordu.",
        "Her zaman sadece ilk deneyden gelen verilere bakarak cevap verilemeyecek sorular olacak.",
    ],
}


def test_lang_id_accuracy_on_natural_sentences(spark):
    """The expanded 13-language inventory must identify natural sentences
    (written independently of the stopword lists) with >=85% accuracy
    overall and with no language collapsing to zero — the gate-parity toy
    from round 2 (6 languages x 30 words) graduates to a usable filter.
    The measured number is reported in COVERAGE.md."""
    from fuzzycat_spark.functions.text import LANG_STOPWORDS, lang_id_col

    rows = [
        (lang, s) for lang, sents in LANG_EVAL_SENTENCES.items() for s in sents
    ]
    df = spark.createDataFrame(rows, "true_lang string, text string")
    got = df.select("true_lang", lang_id_col("text").alias("pred")).collect()
    per_lang = {}
    for r in got:
        per_lang.setdefault(r.true_lang, []).append(r.pred == r.true_lang)
    acc = sum(r.pred == r.true_lang for r in got) / len(got)
    assert set(LANG_EVAL_SENTENCES) == set(LANG_STOPWORDS)
    assert acc >= 0.85, f"lang-ID accuracy {acc:.2f}: {per_lang}"
    assert all(any(v) for v in per_lang.values()), per_lang


def test_lang_id_table_matches_column_form(spark):
    """The broadcast-join batch form must be vote-identical to the Column
    expression on the same rows (including zero-token and tie -> 'und')."""
    from fuzzycat_spark.functions.text import lang_id_col, lang_id_table

    rows = [(f"{l}-{i}", s) for l, ss in LANG_EVAL_SENTENCES.items() for i, s in enumerate(ss)]
    rows += [("empty", ""), ("nums", "12345 67890"), ("tie", "la la")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    col_form = {
        r.doc_id: r.p
        for r in df.select("doc_id", lang_id_col("text").alias("p")).collect()
    }
    table_form = {
        r.doc_id: r.lang_pred for r in lang_id_table(df, "doc_id", "text").collect()
    }
    assert table_form == col_form
    assert table_form["empty"] == "und" and table_form["nums"] == "und"


def test_lang_id_script_fixture_accuracy(spark):
    """Script-conditional language ID labels EVERY doc of the committed
    mixed-script fixture correctly (ja/zh/ko via kana-hangul-han routing,
    ru/uk/bg/sr via cyrillic distinctive-letter argmax, ar/fa/ur via the
    arabic precedence chain, el/he/th/hi via single-script rules, Latin
    languages via the stopword vote, und abstentions where no rule can
    see the language) — and the batch table form agrees row-for-row with
    the Column form."""
    from fuzzycat_spark.functions.text import lang_id_script_col, lang_id_table

    df = spark.read.parquet("/root/repo/fixtures/multilang_docs.parquet")
    col_rows = df.select(
        "doc_id", "expected", lang_id_script_col("text").alias("pred")
    ).collect()
    assert {(r.doc_id, r.expected) for r in col_rows} == {
        (r.doc_id, r.pred) for r in col_rows
    }
    table_form = {
        r.doc_id: r.lang_pred
        for r in lang_id_table(df, "doc_id", "text", script_aware=True).collect()
    }
    assert table_form == {r.doc_id: r.pred for r in col_rows}
    # non-Latin coverage is real, not und-everywhere (the round-4 gap)
    assert {r.pred for r in col_rows} >= {
        "ja", "zh", "ko", "ru", "uk", "bg", "sr", "el", "he", "th", "hi",
        "ar", "fa", "ur", "en", "de", "fr", "es", "und",
    }


def test_script_of_labels(spark):
    """Codepoint-range script detection: majority script wins, kana
    outranks han on ties (Japanese-shaped), everything outranks the
    ascii chrome that leaks into every web page, no-letter docs -> und."""
    from fuzzycat_spark.functions.text import script_of

    rows = [
        ("latin", "plain english sentence with words"),
        ("accented", "café résumé naïve façade über"),
        ("greek", "η ελλαδα ειναι μια ομορφη χωρα"),
        ("cyrillic", "москва является столицей россии"),
        ("han", "東京は日本の首都であり大都市圏を形成"),
        ("kana_tie", "すし さしみ abc"),          # pure kana beats the ascii leak? no: 6 kana vs 3 latin
        ("hangul", "서울은 대한민국의 수도입니다"),
        ("arabic", "القاهرة هي عاصمة مصر"),
        ("hebrew", "ירושלים היא עיר עתיקה"),
        ("thai", "กรุงเทพมหานครเป็นเมืองหลวง"),
        ("devanagari", "दिल्ली भारत की राजधानी है"),
        ("mixed_chrome", "ホームページ home about contact news menu"),  # chrome leak: latin 26 vs kana 6 -> latin majority
        ("und", "12345 !!! ???"),
        ("empty", ""),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r.doc_id: r.s for r in df.select("doc_id", script_of("text").alias("s")).collect()}
    assert got["latin"] == "latin"
    assert got["accented"] == "latin"
    assert got["greek"] == "greek"
    assert got["cyrillic"] == "cyrillic"
    assert got["han"] == "han"
    assert got["kana_tie"] == "kana"
    assert got["hangul"] == "hangul"
    assert got["arabic"] == "arabic"
    assert got["hebrew"] == "hebrew"
    assert got["thai"] == "thai"
    assert got["devanagari"] == "devanagari"
    assert got["mixed_chrome"] == "latin"  # honest majority, not wishful routing
    assert got["und"] == "und"
    assert got["empty"] == "und"


def test_corpus_filter_admits_non_latin_by_script(spark, tmp_path):
    """corpus_filter's script-aware admission: a CJK doc (lang-ID 'und',
    quality metrics Latin-trained) is KEPT by script + codepoint length,
    short non-Latin fragments and denylisted slugs still drop."""
    from test_oracles import q_corpus_filter

    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again today it seems", "en"),
        (1, "東京は日本の首都であり、世界有数の大都市圏を形成している。人口は千四百万人を超える。", None),
        (2, "短い", None),                        # non-Latin but under the char screen
        (3, "404 not found", "en"),               # denylisted slug
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    sf = str(tmp_path)
    df.write.parquet(f"{sf}/documents.parquet")
    kept = {r.doc_id: r.script for r in q_corpus_filter(spark, sf).collect()}
    assert 0 in kept and kept[0] == "latin"
    assert 1 in kept and kept[1] == "han"
    assert 2 not in kept and 3 not in kept
