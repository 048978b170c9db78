"""zh back-fill pipeline: the FIXTURES.md §1 truth-table lattice, the B1
typo-compat mode, the B4 classifier precedence, and map-concat semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from openmaptiles_zh_modifier_spark.catalog import classify_schema
from openmaptiles_zh_modifier_spark.functions.zh import (
    is_han,
    to_simplified,
    to_traditional,
)
from openmaptiles_zh_modifier_spark.operators.zh_backfill import (
    backfill_table,
    updates_frame,
    updates_frame_with_tags,
)

SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("name", StringType()),
        StructField("tags", MapType(StringType(), StringType())),
    ]
)


def mk(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


# The FIXTURES.md §1 row lattice. tags keys: name:zh, name:zh-Hans, name:zh-Hant
LATTICE = [
    # (id, name, tags, expect_update, expect_hans, expect_hant) — default mode
    (1, None, {}, False, None, None),  # skip: no source
    (2, "Berlin", {}, False, None, None),  # skip: non-Han name, no zh
    (3, "臺北", {}, True, "台北", "臺北"),  # derive from name
    (4, "Taipei", {"name:zh": "臺北"}, True, "台北", "臺北"),  # derive from zh
    # half-filled (hant missing): hans kept, hant derived, both keys written
    (5, "x", {"name:zh": "臺北", "name:zh-Hans": "台北"}, True, "台北", "臺北"),
    # B7: BOTH empty-string → raw IS NULL server filter fails → untouched
    (6, "x", {"name:zh": "臺北", "name:zh-Hans": "", "name:zh-Hant": ""}, False, None, None),
    # complete: filtered server-side, untouched
    (7, "x", {"name:zh": "臺北", "name:zh-Hans": "台北", "name:zh-Hant": "臺北"}, False, None, None),
    # empty name, no zh: skip
    (8, "", {}, False, None, None),
    # mixed-script name qualifies as Han source
    (9, "Beijing 北京", {}, True, "Beijing 北京", "Beijing 北京"),
    # non-BMP Han (CJK Ext B, U+20000): must be detected as Han
    (10, "\U00020000", {}, True, "\U00020000", "\U00020000"),
    # B7: one '' + one NULL → qualifies via the NULL, then BOTH regenerated
    (11, "x", {"name:zh": "臺北", "name:zh-Hans": ""}, True, "台北", "臺北"),
]


@pytest.fixture(scope="module")
def lattice_df(spark):
    return mk(spark, [Row(id=i, name=n, tags=t) for i, n, t, *_ in LATTICE])


def test_updates_frame_lattice(spark, lattice_df):
    got = {
        r["id"]: (r["hans"], r["hant"])
        for r in updates_frame(lattice_df).collect()
    }
    expected = {
        i: (hs, ht) for i, _, _, upd, hs, ht in LATTICE if upd
    }
    assert got == expected


def test_backfill_table_lattice(spark, lattice_df):
    out = {r["id"]: r["tags"] for r in backfill_table(lattice_df).collect()}
    for i, _, tags, upd, hs, ht in LATTICE:
        if upd:
            assert out[i]["name:zh-Hans"] == hs, f"row {i}"
            assert out[i]["name:zh-Hant"] == ht, f"row {i}"
        else:
            assert out[i] == tags, f"row {i} must be untouched"


def test_backfill_preserves_other_tags_and_row_count(spark, lattice_df):
    df = mk(
        spark,
        [Row(id=1, name="臺北", tags={"name:en": "Taipei", "amenity": "cafe"})],
    )
    out = backfill_table(df).collect()[0]["tags"]
    assert out["name:en"] == "Taipei" and out["amenity"] == "cafe"
    assert out["name:zh-Hans"] == "台北" and out["name:zh-Hant"] == "臺北"
    assert backfill_table(lattice_df).count() == lattice_df.count()


def test_b1_typo_compat_regenerates_hant(spark):
    # hans missing, hant PRESENT: row qualifies. Faithful-typo mode reads
    # hant from 'names:zh-Hant' (≡ NULL) → regenerates & overwrites hant;
    # intended mode keeps the existing hant.
    df = mk(
        spark,
        [Row(id=1, name="x", tags={"name:zh": "头发", "name:zh-Hant": "頭髮"})],
    )
    intended = backfill_table(df, compat_names_typo=False).collect()[0]["tags"]
    assert intended["name:zh-Hant"] == "頭髮"  # kept
    faithful = backfill_table(df, compat_names_typo=True).collect()[0]["tags"]
    # regenerated — the B1 bug being reproduced is that the EXISTING value
    # is clobbered by a regenerated one (here the regeneration happens to
    # produce the same text because 头发 is in the phrase vocabulary)
    assert faithful["name:zh-Hant"] == to_trad_py("头发")
    assert faithful["name:zh-Hans"] == "头发"


def to_trad_py(s: str) -> str:
    """Python twin of functions.zh.to_traditional (phrase pass + chars)."""
    from openmaptiles_zh_modifier_spark.functions.zh import (
        S2T_FROM,
        S2T_PHRASES,
        S2T_TO,
        _phrase_order,
    )

    for src, dst in _phrase_order(S2T_PHRASES):
        s = s.replace(src, dst)
    return s.translate(str.maketrans(S2T_FROM, S2T_TO))


def test_is_han_non_bmp(spark):
    df = spark.createDataFrame(
        [("北京",), ("Berlin",), ("\U00020000",), ("",), ("ランド",)],
        ["s"],
    )
    got = [r[0] for r in df.select(is_han("s")).collect()]
    assert got == [True, False, True, False, False]


def test_conversion_roundtrip_props(spark):
    # t2s then s2t recovers the canonical traditional form for chars whose
    # mapping is bijective in our table (臺 is, 髮 is not — 发 reverses to 發).
    df = spark.createDataFrame([("臺灣鐵路",), ("頭髮",)], ["s"])
    out = df.select(
        to_simplified("s").alias("simp"),
        to_traditional(to_simplified("s")).alias("rt"),
    ).collect()
    assert out[0]["simp"] == "台湾铁路"
    assert out[0]["rt"] == "臺灣鐵路"
    assert out[1]["simp"] == "头发"
    # 头发 is in the phrase vocabulary, so the roundtrip recovers 髮 (the
    # bare char-level reverse would lossily pick first-listed 發)
    assert out[1]["rt"] == "頭髮"


def test_classifier_precedence_and_negatives():
    def sch(*cols):
        return StructType([StructField(c, StringType()) for c in cols])

    assert classify_schema(sch("id", "name", "tags"), "t").id_field == "id"
    assert classify_schema(sch("osm_id", "name", "tags"), "t").id_field == "osm_id"
    # B4: both keys → id wins
    assert classify_schema(sch("id", "osm_id", "name", "tags"), "t").id_field == "id"
    assert classify_schema(sch("id", "name"), "t") is None  # no tags
    assert classify_schema(sch("id", "tags"), "t") is None  # no name
    assert classify_schema(sch("name", "tags"), "t") is None  # no key


def test_map_concat_last_win(spark):
    # The load-bearing config: right operand wins on duplicate keys.
    df = spark.createDataFrame([Row(m={"k": "old"})])
    out = df.select(
        F.map_concat("m", F.create_map(F.lit("k"), F.lit("new"))).alias("m")
    ).collect()[0]["m"]
    assert out["k"] == "new"


# ---------------------------------------------------------------------------
# OpenCC divergence envelope (SURVEY "hard parts" (b)): the reference uses
# WORD-LEVEL opencc4j (OMTZHModifier.java:228,233); this engine ships a
# char-level F.translate degraded mode. This fixture measures exactly where
# the degraded mode agrees with / diverges from the dictionary-faithful
# output, so the error is quantified rather than just documented.
# Each row: (input, direction, opencc_word_level_expected, char_level_expected)
# ---------------------------------------------------------------------------

_OPENCC_FIXTURE = [
    # -- agreements: unambiguous 1:1 chars convert identically --------------
    ("頭髮", "t2s", "头发", "头发"),    # both chars unambiguous in t2s
    ("臺灣鐵路", "t2s", "台湾铁路", "台湾铁路"),
    ("发展", "s2t", "發展", "發展"),    # 发→發 is the right pick here
    ("云彩", "s2t", "雲彩", "雲彩"),
    # -- accidental agreements: char missing from table, but the word-level
    #    output happens to keep the char too (exception words / stable chars)
    ("乾隆", "t2s", "乾隆", "乾隆"),    # OpenCC exception: era name keeps 乾
    ("皇后", "s2t", "皇后", "皇后"),    # 后 correct (empress), not 後
    ("千里", "s2t", "千里", "千里"),    # 里 (distance unit) stays 里
    # -- word-level hard cases RESOLVED by the phrase pre-pass --------------
    ("理发", "s2t", "理髮", "理髮"),    # needs 髮, not first-listed 發
    ("头发", "s2t", "頭髮", "頭髮"),
    ("乾燥", "t2s", "干燥", "干燥"),    # 乾→干 needs word context
    ("后面", "s2t", "後面", "後面"),    # 后→後 needs word context
    ("里面", "s2t", "裡面", "裡面"),    # 里→裡 needs word context
    ("烫发", "s2t", "燙髮", "燙髮"),    # round 3: now in-vocabulary
    ("干线", "s2t", "幹線", "幹線"),    # round 3: now in-vocabulary
    ("关系", "s2t", "關係", "關係"),    # 系→係 needs word context
    ("周末", "s2t", "週末", "週末"),    # 周→週 needs word context
    ("复杂", "s2t", "複雜", "複雜"),    # 复→複 over the 復 char default
    ("恢复", "s2t", "恢復", "恢復"),    # 复→復 via the s2t char default
    ("轻松", "s2t", "輕鬆", "輕鬆"),    # 松→鬆 needs word context
    ("松树", "s2t", "松樹", "松樹"),    # 松 (the tree) must stay 松
    # -- t2s collapse chars are safe CHAR-LEVEL (no phrase needed) ----------
    ("後面", "t2s", "后面", "后面"),
    ("裡面", "t2s", "里面", "里面"),
    ("一隻", "t2s", "一只", "一只"),
    ("關係", "t2s", "关系", "关系"),
    # -- round-4 expansion: previously-divergent words now in-vocabulary ----
    ("秀发", "s2t", "秀髮", "秀髮"),    # round 4: now in-vocabulary
    ("干流", "s2t", "幹流", "幹流"),    # round 4: now in-vocabulary
    # -- round-4 cases: new char-table entries (both directions) ------------
    ("夢想", "t2s", "梦想", "梦想"),
    ("梦想", "s2t", "夢想", "夢想"),
    ("韩国", "s2t", "韓國", "韓國"),
    ("猪肉", "s2t", "豬肉", "豬肉"),
    ("军阵", "s2t", "軍陣", "軍陣"),
    # -- round-4 cases: s2t char-DEFAULT correctness (word must NOT map) ----
    ("游泳", "s2t", "游泳", "游泳"),    # 游 stays 游 (fixed: 遊 is t2s-only)
    ("上游", "s2t", "上游", "上游"),
    ("木板", "s2t", "木板", "木板"),    # 板 stays (闆 only in 老板)
    ("占卜", "s2t", "占卜", "占卜"),    # divination keeps both chars
    ("布料", "s2t", "布料", "布料"),    # cloth stays 布
    ("风采", "s2t", "風采", "風采"),    # 采 (grace) stays
    ("批准", "s2t", "批准", "批准"),    # 准 (permit) stays
    ("尽力", "s2t", "盡力", "盡力"),    # 尽→盡 char default
    ("获得", "s2t", "獲得", "獲得"),    # 获→獲 char default
    ("汇款", "s2t", "匯款", "匯款"),    # 汇→匯 char default
    ("历史", "s2t", "歷史", "歷史"),    # 历→歷 char default
    ("时钟", "s2t", "時鐘", "時鐘"),    # 钟→鐘 char default
    ("心脏", "s2t", "心臟", "心臟"),    # 脏→臟 char default
    ("吃了", "s2t", "吃了", "吃了"),    # the particle 了 stays
    ("宿舍", "s2t", "宿舍", "宿舍"),    # 舍 (dwelling) stays
    ("小丑", "s2t", "小丑", "小丑"),    # opera-role 丑 stays
    ("松树", "s2t", "松樹", "松樹"),    # (kept from round 3)
    # -- round-4 cases: new phrase-resolved words ---------------------------
    ("旅游", "s2t", "旅遊", "旅遊"),
    ("游戏", "s2t", "遊戲", "遊戲"),
    ("老板", "s2t", "老闆", "老闆"),
    ("萝卜", "s2t", "蘿蔔", "蘿蔔"),
    ("宣布", "s2t", "宣佈", "宣佈"),
    ("采访", "s2t", "採訪", "採訪"),
    ("标准", "s2t", "標準", "標準"),
    ("尽量", "s2t", "儘量", "儘量"),
    ("收获", "s2t", "收穫", "收穫"),
    ("词汇", "s2t", "詞彙", "詞彙"),
    ("台风", "s2t", "颱風", "颱風"),
    ("柜台", "s2t", "櫃檯", "櫃檯"),
    ("日历", "s2t", "日曆", "日曆"),
    ("了解", "s2t", "瞭解", "瞭解"),
    ("肮脏", "s2t", "骯髒", "骯髒"),
    ("昆仑", "s2t", "崑崙", "崑崙"),
    ("老闆", "t2s", "老板", "老板"),
    ("颱風", "t2s", "台风", "台风"),
    ("鞦韆", "t2s", "秋千", "秋千"),
    ("藉口", "t2s", "借口", "借口"),
    ("慰藉", "t2s", "慰藉", "慰藉"),  # 慰藉 keeps 藉 in simplified
    # -- round-5 expansion: the grown t2s side (著/藉/祇/瞭/摺/覆/麼) -------
    ("隨著", "t2s", "随着", "随着"),    # 著 zhe -> 着 via phrase
    ("睡著", "t2s", "睡着", "睡着"),    # 著 zháo -> 着 via phrase
    ("執著", "t2s", "执着", "执着"),    # PRC standard prefers 执着
    ("著名", "t2s", "著名", "著名"),    # 著 zhù keeps 著 (char absent)
    ("土著", "t2s", "土著", "土著"),    # 土著 keeps 著
    ("憑藉", "t2s", "凭借", "凭借"),    # 藉 jiè -> 借 via phrase
    ("狼藉", "t2s", "狼藉", "狼藉"),    # 藉 jí keeps 藉
    ("瞭解", "t2s", "了解", "了解"),    # 瞭 liǎo -> 了 via phrase
    ("瞭望", "t2s", "瞭望", "瞭望"),    # 瞭 liào keeps 瞭 (round 5: char
                                        # pair removed — was wrongly 了望)
    ("一目瞭然", "t2s", "一目了然", "一目了然"),
    ("什麼", "t2s", "什么", "什么"),    # 麼 -> 么 (round-5 char pair)
    ("怎麼", "t2s", "怎么", "怎么"),
    ("甚麼", "t2s", "什么", "什么"),    # variant spelling via phrase
    ("祇有", "t2s", "只有", "只有"),    # 祇 adverb -> 只 via phrase
    ("神祇", "t2s", "神祇", "神祇"),    # 神祇 keeps 祇
    ("存摺", "t2s", "存折", "存折"),
    ("答覆", "t2s", "答复", "答复"),
    ("覆蓋", "t2s", "覆盖", "覆盖"),    # 覆 keeps 覆 outside reply words
    ("乾乾淨淨", "t2s", "干干净净", "干干净净"),  # needs the 4-char entry
    ("乾坤", "t2s", "乾坤", "乾坤"),    # classical 乾 qián stays
    ("口乾", "t2s", "口干", "口干"),
    ("麵粉", "t2s", "面粉", "面粉"),    # 麵 char pair
    ("干吗", "s2t", "幹嗎", "幹嗎"),    # round 5: now in-vocabulary
    ("干嘛", "s2t", "幹嘛", "幹嘛"),    # round 5: now in-vocabulary
    # -- round-5 probe-found additions ---------------------------------------
    ("码头", "s2t", "碼頭", "碼頭"),    # 碼 char pair was missing entirely
    ("温泉", "s2t", "溫泉", "溫泉"),
    ("桥梁", "s2t", "橋樑", "橋樑"),    # beam words take 樑
    ("梁山", "s2t", "梁山", "梁山"),    # surname/place 梁 stays
    ("奇迹", "s2t", "奇蹟", "奇蹟"),    # 迹 fans out 蹟/跡 by word
    ("痕迹", "s2t", "痕跡", "痕跡"),
    ("殡仪馆", "s2t", "殯儀館", "殯儀館"),
    ("一周", "s2t", "一週", "一週"),
    ("往后", "s2t", "往後", "往後"),
    ("汤面", "s2t", "湯麵", "湯麵"),
    ("周围", "s2t", "周圍", "周圍"),    # 周 stays — only week-words take 週
    ("几个", "s2t", "幾個", "幾個"),    # 几→幾 char default
    # -- round-8: previously-divergent cases, now resolved ------------------
    ("理了发", "s2t", "理了髮", "理了髮"),  # separable-verb gap rule
                                        # (SEP_VERB_RULES_S2T): 理…发
                                        # converts as a word across the
                                        # aspect-marker infix
    ("瞭然", "t2s", "了然", "了然"),    # in-vocab since round-7 sweep 8
    ("茶几", "s2t", "茶几", "茶几"),    # keep-word sentinel
                                        # (KEEP_WORDS_S2T): furniture 几
                                        # is protected from the 几→幾
                                        # char default inside the word
]


def test_opencc_divergence_envelope(spark):
    """Pin the degraded mode's EXACT output on word-level hard cases and
    measure the divergence rate against dictionary-faithful opencc output.
    If the char table changes, this test tells you precisely which hard
    cases started/stopped agreeing."""
    df = spark.createDataFrame(
        [(i, w, d) for i, (w, d, _, _) in enumerate(_OPENCC_FIXTURE)],
        "i int, w string, d string",
    )
    out = {
        r.i: r.got
        for r in df.select(
            "i",
            F.when(
                F.col("d") == "t2s", to_simplified("w")
            ).otherwise(to_traditional("w")).alias("got"),
        ).collect()
    }
    diverged = []
    for i, (w, d, opencc_expected, char_expected) in enumerate(_OPENCC_FIXTURE):
        assert out[i] == char_expected, (w, d, out[i], char_expected)
        if char_expected != opencc_expected:
            diverged.append(w)
    # the measured envelope: the phrase pre-pass resolves every
    # in-vocabulary word-level case; round 8's separable-verb gap rules
    # and keep-word sentinels retired the last two divergences (理了发,
    # 茶几). New OOV ambiguous words would land here again — the test
    # exists so such a regression is named, not silent.
    assert len(_OPENCC_FIXTURE) >= 80
    assert diverged == []


@pytest.mark.parametrize("compat_names_typo", [False, True])
def test_updates_frame_with_tags_consistent(
    spark, lattice_df, compat_names_typo
):
    """The single-scan (id, hans, hant, new_tags_map) frame must select
    exactly the rows updates_frame selects, with identical hans/hant, and
    its new_tags_map must equal what backfill_table writes for those rows
    — the three write-back forms are views of one derivation, in both
    compat modes. Row 12 (hans missing, hant present) is the row the B1
    typo mode regenerates differently."""
    df = lattice_df.union(
        mk(
            spark,
            [Row(id=12, name="x", tags={"name:zh": "理发", "name:zh-Hant": "X"})],
        )
    )
    upd = {
        r["id"]: (r["hans"], r["hant"])
        for r in updates_frame(
            df, compat_names_typo=compat_names_typo
        ).collect()
    }
    with_tags = {
        r["id"]: (r["hans"], r["hant"], r["new_tags_map"])
        for r in updates_frame_with_tags(
            df, compat_names_typo=compat_names_typo
        ).collect()
    }
    assert {i: v[:2] for i, v in with_tags.items()} == upd
    assert upd[12][1] == ("理髮" if compat_names_typo else "X")
    rewritten = {
        r["id"]: r["tags"]
        for r in backfill_table(
            df, compat_names_typo=compat_names_typo
        ).collect()
    }
    for i, (_, _, new_tags) in with_tags.items():
        assert new_tags == rewritten[i], i


def test_backfill_plans_are_shuffle_free(spark, lattice_df, tmp_path):
    """The module contract: over a parquet scan, the rewrite and the
    single-scan changed-rows frame execute map-side only — no Exchange,
    no Join in the executed plan."""
    path = str(tmp_path / "lattice.parquet")
    lattice_df.write.parquet(path)
    df = spark.read.parquet(path)
    for out in (backfill_table(df), updates_frame_with_tags(df)):
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "Join" not in plan, plan


def test_typo_compat_gate_query_diverges_by_mode(spark):
    """The oracle-gated zh_backfill_typo_compat entry (VERDICT r6 #8)
    runs updates_frame in typo mode over a fixture whose stored Hant
    (rows doc_id%7 in {2,6}) DIVERGES from regeneration — so a wrong
    implementation that reads the correct key would keep the stored
    value and break the driver hash. Prove the divergence here by
    running the same map-typed fixture in both modes."""
    import os

    from openmaptiles_zh_modifier_spark.registry import (
        _ZH_HANT_DIVERGENT,
        zh_fixture,
    )

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    tagged = zh_fixture(docs, _ZH_HANT_DIVERGENT)
    faithful = {
        r["doc_id"]: r["hant"]
        for r in updates_frame(tagged, "doc_id", True).collect()
    }
    intended = {
        r["doc_id"]: r["hant"]
        for r in updates_frame(tagged, "doc_id", False).collect()
    }
    saw = 0
    for doc_id, hant in intended.items():
        if doc_id % 7 == 2:
            assert hant == "舊城門樓" and faithful[doc_id] == "廣州東門"
            saw += 1
        elif doc_id % 7 == 6:
            assert hant == "國語書院" and faithful[doc_id] == "國語學校"
            saw += 1
        else:
            assert faithful[doc_id] == hant
    assert saw >= 2


def test_zh_gate_rows_match_their_oracles(spark, sf_dir):
    """The zh gate rows and the driver's ``entry()`` smoke check match
    their DuckDB oracles under the driver's fingerprint (row count,
    name-sorted columns, order-insensitive value hash) — the check
    tools/check_oracle.py makes, here inside the suite."""
    import sys
    from pathlib import Path

    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import __spark_entry__ as entry
    from tools.check_oracle import frame_fingerprint

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    oracles = entry.oracle_sql()

    def oracle_fp(name):
        res = con.execute(oracles[name])
        return frame_fingerprint(
            [d[0] for d in res.description], res.fetchall()
        )

    def spark_fp(df):
        fp = frame_fingerprint(df.columns, [tuple(r) for r in df.collect()])
        assert fp[0] > 0
        return fp

    queries = entry.queries()
    for name in ("zh_backfill", "zh_backfill_typo_compat", "q_stream_zh_backfill"):
        assert spark_fp(queries[name](spark, sf_dir)) == oracle_fp(name), name
    # entry() reads sf0.001, the suite's default sf_dir
    if Path(sf_dir).name == "sf0.001":
        assert spark_fp(entry.entry(spark)) == oracle_fp("zh_backfill")


def _fold_diffs(spark, texts, tables=None):
    """Every text whose Spark conversion (candidate-pruned fold) differs
    from the DuckDB twin's (every pair, split_part), as
    ``text -> (spark, duckdb)`` for both directions; and the Spark
    results by text."""
    import duckdb
    import pyarrow as pa

    from openmaptiles_zh_modifier_spark.functions.zh import (
        to_simplified_sql,
        to_traditional_sql,
    )

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "i int, v string")
    got = {
        r.i: (r.s, r.t)
        for r in df.select(
            "i",
            to_simplified("v", tables).alias("s"),
            to_traditional("v", tables).alias("t"),
        ).collect()
    }
    con = duckdb.connect()
    con.register(
        "src",
        pa.table({"i": [i for i, _ in rows], "v": [v for _, v in rows]}),
    )
    want = {
        i: (s, t)
        for i, s, t in con.execute(
            f"SELECT i, {to_simplified_sql('v', tables)},"
            f" {to_traditional_sql('v', tables)} FROM src"
        ).fetchall()
    }
    assert len(got) == len(want) == len(rows)
    diff = {texts[i]: (got[i], want[i]) for i in got if got[i] != want[i]}
    return diff, {texts[i]: got[i] for i in got}


def test_curated_fold_equals_duckdb_twin_on_every_phrase(spark):
    """The Spark phrase fold (candidate-pruned, indexed constant arrays)
    and its DuckDB twin (split_part over every joined pair) are spelled
    differently; pin them equal on every curated phrase source and
    target, bare, inside a neutral Han context, at both string ends,
    doubled, after a non-BMP char and beside a private-use char of the
    candidate-id range, plus NULL and ''."""
    from openmaptiles_zh_modifier_spark.functions.zh import (
        _ID_BASE,
        _S2T_RULED_PAIRS,
        S2T_FROM,
        T2S_FROM,
        T2S_PHRASES,
    )

    pairs = T2S_PHRASES + _S2T_RULED_PAIRS
    words = sorted({w for pair in pairs for w in pair})
    used = set("".join(words) + T2S_FROM + S2T_FROM)
    ctx = next(ch for ch in "之乎者也丁七丈" if ch not in used)
    ext_b, pua = "\U00020000", chr(_ID_BASE + 3)
    texts = [None, ""] + [
        form
        for w in words
        for form in (
            w,
            f"{ctx}{w}{ctx}",
            f"{w}{ctx}",
            f"{ctx}{w}",
            w + w,
            ext_b + w,
            f"{w}{pua}",
        )
    ]
    diff, _ = _fold_diffs(spark, texts)
    assert len(texts) > 7 * len(pairs)
    assert diff == {}


def _random_texts(rng, pieces, n, max_pieces=5):
    """``n`` strings, each 1..max_pieces random ``pieces`` joined."""
    return [
        "".join(rng.choice(pieces) for _ in range(rng.randint(1, max_pieces)))
        for _ in range(n)
    ]


def test_curated_fold_equals_twins_on_random_strings(spark):
    """Seeded property test: strings of curated dictionary material
    (phrase sources and targets, single table chars, a non-BMP char, a
    candidate-id private-use char and one past the id range, ASCII)
    convert the same through the Spark fold, the DuckDB twin and, for
    s2t, :func:`to_traditional_py`."""
    import random

    from openmaptiles_zh_modifier_spark.functions.zh import (
        _ID_BASE,
        CURATED,
        to_traditional_py,
    )

    t = CURATED
    words = sorted({w for p in t.t2s_phrases + t.s2t_phrases for w in p})
    chars = sorted(set(t.t2s_from + t.t2s_to + t.s2t_from + t.s2t_to))
    pieces = words + chars + [
        "\U00020000", chr(_ID_BASE + 7), chr(_ID_BASE + 0xFFF), "a", " "
    ]
    texts = _random_texts(random.Random(20261021), pieces, 4000)
    diff, got = _fold_diffs(spark, texts)
    assert diff == {}
    py_diff = {x: v for x, v in got.items() if v[1] != to_traditional_py(x)}
    assert py_diff == {}


def _row_candidates(ix, text):
    """The pair positions the Spark fold walks for ``text``: the lists
    of its first chars, and of any candidate-id char it holds."""
    from openmaptiles_zh_modifier_spark.functions.zh import _ID_BASE

    out = set()
    for ch in text:
        k = ix.firsts.find(ch)
        if k < 0:
            k = ord(ch) - _ID_BASE
        if 0 <= k < len(ix.firsts):
            out.update(ix.flat[ix.off[k] - 1 : ix.off[k] - 1 + ix.size[k]])
    return out


def _firing_pairs(ix, text):
    """Trace the all-pairs fold: the positions of the pairs that change
    the accumulator."""
    fired = set()
    for i, (src, dst) in enumerate(ix.ordered, 1):
        nxt = text.replace(src, dst)
        if nxt != text:
            fired.add(i)
        text = nxt
    return fired


def _synthetic_st_phrases(n, seed):
    """``n`` STPhrases-like s2t pairs: 2–4 char sources drawn from the
    curated simplified chars and a block of unconverted Han chars, each
    target the source char-converted (how OpenCC's STPhrases relates
    them)."""
    import random

    from openmaptiles_zh_modifier_spark.functions.zh import (
        S2T_FROM,
        S2T_TO,
        T2S_FROM,
    )

    rng = random.Random(seed)
    plain = [chr(c) for c in range(0x4E00, 0x5600) if chr(c) not in T2S_FROM + S2T_FROM]
    pool = list(S2T_FROM) + plain
    conv = str.maketrans(S2T_FROM, S2T_TO)
    pairs = {}
    while len(pairs) < n:
        src = "".join(rng.choice(pool) for _ in range(rng.randint(2, 4)))
        if src.translate(conv) != src:
            pairs.setdefault(src, src.translate(conv))
    return list(pairs.items())


def _random_ingested_tables(rng, n_lines):
    """A random ingested table set over a tiny alphabet, where sources
    and targets overlap and chain (the shape of the OpenCC ingest
    property test)."""
    from openmaptiles_zh_modifier_spark.functions.zh import ZhTables

    alpha = "甲乙丙丁戊己"

    def pairs():
        out = []
        for _ in range(n_lines):
            src = "".join(rng.choice(alpha) for _ in range(rng.randint(1, 3)))
            dst = "".join(rng.choice(alpha) for _ in range(rng.randint(1, 3)))
            if src != dst:
                out.append((src, dst))
        return tuple(out)

    return ZhTables(pairs(), pairs(), "甲", "乙", "丙", "丁")


def test_candidate_index_covers_every_firing_pair():
    """Pure-Python closure check: over random strings, every pair that
    changes the accumulator of the all-pairs fold is among the row's
    candidates, for the curated tables, random chaining ingested tables
    and an 8k-pair STPhrases-like table."""
    import random

    from openmaptiles_zh_modifier_spark.functions.zh import (
        _ID_BASE,
        CURATED,
        ZhTables,
        _phrase_index,
    )

    rng = random.Random(7)
    cases = [(CURATED.t2s_index, 3000), (CURATED.s2t_index, 3000)]
    for _ in range(20):
        t = _random_ingested_tables(rng, rng.randint(1, 12))
        cases += [(t.t2s_index, 100), (t.s2t_index, 100)]
    cases.append((_phrase_index(_synthetic_st_phrases(8000, 11)), 1000))
    checked = fired_any = 0
    for ix, n in cases:
        words = sorted({w for p in ix.ordered for w in p}) or ["甲"]
        pieces = words + list(ix.firsts) + [chr(_ID_BASE + 1), "x"]
        for text in _random_texts(rng, pieces, n):
            fired = _firing_pairs(ix, text)
            assert fired <= _row_candidates(ix, text), (text, fired)
            checked += 1
            fired_any += bool(fired)
    assert checked == sum(n for _, n in cases) and fired_any > checked // 2
    assert ZhTables((), (), "", "", "", "").t2s_index.ordered == ()


def test_synthetic_8k_pair_fold_equals_duckdb_twin(spark):
    """An 8k-pair STPhrases-like s2t table (the scale of real OpenCC
    STPhrases) folds exactly: Spark equals the DuckDB twin on strings of
    its phrases and chars."""
    import random

    from openmaptiles_zh_modifier_spark.functions.zh import ZhTables

    pairs = _synthetic_st_phrases(8000, 11)
    t = ZhTables((), tuple(pairs), "", "", "", "")
    rng = random.Random(5)
    pieces = [w for p in pairs for w in p] + list(t.s2t_index.firsts)
    diff, _ = _fold_diffs(spark, _random_texts(rng, pieces, 300), t)
    assert diff == {}
