"""Generate fixtures/multilang_docs.parquet: (doc_id, text, expected) —
natural sentences across the scripts the script-conditional language ID
handles (CJK, Cyrillic ru/uk/bg/sr, Arabic ar/fa/ur, Greek, Hebrew, Thai,
Devanagari, Latin stopword languages, plus und edge cases). `expected` is
the ground-truth label used by the pytest accuracy assertion; the driver
gate recomputes the prediction in DuckDB from the same dispatch rules.
Pure pyarrow, no Spark needed."""

from __future__ import annotations

from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = str(Path(__file__).resolve().parent.parent)

DOCS: list[tuple[str, str]] = [
    # kana outranks han: Japanese with kanji still routes to ja
    ("ja", "東京は日本の首都です。今日は天気がいいですね。明日も晴れるでしょう。"),
    ("ja", "京都には古いお寺がたくさんあります。春には桜がとてもきれいです。"),
    # pure han, no kana → zh
    ("zh", "北京是中国的首都。我们今天去公园散步,然后一起吃晚饭。"),
    ("zh", "上海是一个非常大的城市,经济发展很快,人口众多。"),
    ("ko", "서울은 한국의 수도입니다. 오늘 날씨가 정말 좋네요."),
    ("ko", "부산은 바다로 유명한 도시입니다. 여름에 많은 사람들이 방문합니다."),
    # cyrillic: distinctive-letter argmax
    ("ru", "Москва является столицей России. Это новый этап развития страны."),
    ("ru", "Каждый человек должен быть готов к этим переменам в жизни."),
    ("uk", "Київ є столицею України. Ця країна має велику історію та культуру."),
    ("uk", "Українська мова є однією з найкрасивіших мов світу."),
    ("bg", "България е красива страна. Тук всъщност има много планини и реки."),
    ("bg", "Пътят към върха беше дълъг, но гледката си заслужаваше."),
    ("sr", "Београд је главни град Србије. Ђаци иду у школу сваког јутра."),
    ("sr", "Љубав према књижевности његује се од малих ногу."),
    # cyrillic with NO distinctive letters → und (honest abstention)
    ("und", "Москва порт"),
    ("el", "Η Αθήνα είναι η πρωτεύουσα της Ελλάδας και μια πανέμορφη πόλη."),
    ("he", "ירושלים היא עיר עתיקה מאוד עם היסטוריה של אלפי שנים."),
    ("th", "กรุงเทพมหานครเป็นเมืองหลวงของประเทศไทยและมีประชากรจำนวนมาก"),
    ("hi", "दिल्ली भारत की राजधानी है और यहाँ बहुत से लोग रहते हैं।"),
    # arabic script: ar default, fa via پچژگ, ur via retroflex inventory
    ("ar", "القاهرة هي عاصمة مصر والمدينة الأكبر فيها حيث يعيش ملايين الناس."),
    ("fa", "تهران پایتخت ایران است و شهر بزرگی با جمعیت زیاد است."),
    ("ur", "کراچی پاکستان کا سب سے بڑا شہر ہے اور یہاں بہت لوگ رہتے ہیں۔"),
    # latin stopword vote still decides latin-script docs
    ("en", "the quick brown fox jumps over the lazy dog and then it runs away"),
    ("de", "der schnelle braune fuchs springt über den faulen hund und läuft dann weg"),
    ("fr", "le renard brun saute par dessus le chien paresseux et il part ensuite"),
    ("es", "el zorro marrón salta sobre el perro perezoso y luego se va corriendo"),
    # no letters at all → script und → stopword vote → und
    ("und", "12345 67890 --- !!!"),
]


def main() -> None:
    table = pa.table(
        {
            "doc_id": pa.array(range(len(DOCS)), pa.int64()),
            "text": pa.array([t for _, t in DOCS], pa.string()),
            "expected": pa.array([e for e, _ in DOCS], pa.string()),
        }
    )
    pq.write_table(table, f"{ROOT}/fixtures/multilang_docs.parquet")
    print(f"wrote {len(DOCS)} docs")


if __name__ == "__main__":
    main()
