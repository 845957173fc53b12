"""Deterministic synthetic ``pages`` table (input_hint shape) + ground truth.

pages(url: string, warc_ts: timestamp, html: binary, text: string, lang: string)

Everything is modular arithmetic over ``spark.range`` — no RNG, no Python row
loops — so the same ``n_households`` yields byte-identical data at any
parallelism, and generation scales linearly for bench sizes.

Construction (vocab drawn from the reference's balanced generator,
``training/generate_balanced_data.py:24-174``):
- household ``h`` owns a canonical address (house number, gali, colony,
  subarea, city, pincode, optional sector); ~20% of households land in the
  mega-pincode 110041 to exercise skew handling.
- each household emits 1-4 surface variants (abbreviation swaps, case
  changes, component reorder, Devanagari mixing — the reference's
  augmentation moves, ``training/augment.py:40-77``); variants normalize to
  matching field values so true pairs score high.
- distinct households colliding into one block differ in house-number
  digits, which the scorer treats as a hard feature.
- pages hold 0-4 mention lines between filler lines (filler contains no
  PIN/DELHI so the candidate detector skips it); ``mention_id = url#seq``
  is reproducible from the page text alone.

Ground truth:
- truth(url, mention_seq, mention_id, entity_id, raw)
- labeled_pairs(mention_id_a, mention_id_b, block_key, is_match) — sampled
  within identical blocking keys (FIXTURES.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

COLONIES = (
    "RAJ NAGAR", "PREM NAGAR", "SHIV NAGAR", "HARI NAGAR", "KRISHNA NAGAR",
    "GANESH NAGAR", "RAM NAGAR", "VIJAY NAGAR", "SADH NAGAR", "BALJIT NAGAR",
    "PANDAV NAGAR", "DEV NAGAR", "BUDH VIHAR", "AMBICA VIHAR", "NIRMAN VIHAR",
    "PUSHP VIHAR", "DEEP VIHAR", "RAJ VIHAR", "PALAM COLONY", "FRIENDS COLONY",
    "VIJAY ENCLAVE", "SAINIK ENCLAVE", "DURGA PARK", "SWARN PARK", "CHANCHAL PARK",
)

SUBAREAS = (
    "LAJPAT NAGAR", "MALVIYA NAGAR", "HAUZ KHAS", "SAKET", "MEHRAULI",
    "VASANT KUNJ", "DWARKA", "JANAKPURI", "ROHINI", "PITAMPURA",
    "MODEL TOWN", "CIVIL LINES", "KAMLA NAGAR", "MUKHERJEE NAGAR",
    "CONNAUGHT PLACE", "KAROL BAGH", "PAHARGANJ", "DARYAGANJ",
    "CHANDNI CHOWK", "SADAR BAZAAR",
)

PINCODES = (
    "110001", "110002", "110003", "110005", "110006", "110007", "110008",
    "110009", "110010", "110011", "110015", "110016", "110017", "110019",
    "110020", "110021", "110022", "110024", "110025", "110026", "110027",
    "110028", "110029", "110030", "110031", "110032", "110033", "110034",
    "110035", "110036", "110037", "110038", "110039", "110040", "110042",
    "110043", "110044", "110045", "110046", "110047", "110048", "110049",
    "110051", "110052", "110053", "110054", "110055", "110056", "110057",
    "110058", "110059", "110060", "110061", "110062", "110063", "110064",
)

MEGA_PINCODE = "110041"

FILLERS = (
    "the quarterly report covers supply chain logistics and vendor onboarding",
    "community updates and seasonal festival planning notes for residents",
    "classifieds section lists furniture appliances and two wheelers for sale",
    "tutoring services available for mathematics science and english classes",
    "local sports club announces weekend cricket and badminton fixtures",
    "recipes column features seasonal vegetables and street food favourites",
    "weather outlook predicts clear skies with mild evening temperatures",
)


def _arr(values):
    return F.array(*[F.lit(v) for v in values])


def _pick(values, idx_col):
    return F.element_at(_arr(values), (idx_col % len(values) + 1).cast("int"))


def generate(
    spark: SparkSession,
    n_households: int = 1000,
    mentions_per_page: int = 2,
) -> dict[str, DataFrame]:
    """→ {'pages': ..., 'truth': ..., 'labeled_pairs': ...}"""
    h = F.col("h")
    hh = spark.range(n_households).select(F.col("id").alias("h"))

    # Hold per-block density constant as the corpus grows: the address
    # universe scales with coverage in a real crawl (more pages ⇒ more
    # distinct streets/house numbers), while a FIXED universe saturates —
    # measured at 2M households: 4× mentions produced 17× candidate pairs
    # and 15× match edges purely from block-key collisions between
    # distinct households. house_num feeds both the secondary blocking
    # key and the scorer's digit hard feature, so widening its range is
    # the single knob that scales key entropy ∝ n. Below ~1M households
    # the modulus stays 899 ⇒ every test/bench fixture is byte-identical
    # to the fixed-universe generator. The scaled modulus must stay
    # COPRIME with every other household modulus (2,3,5,7,11,20,23,25,40):
    # a shared factor collapses the entropy gain — 899·4 = 3596 shares 4
    # with the pincode index (h % 20), which pins house_num mod 4 inside
    # each pincode and silently restores the 899-value universe.
    import math

    house_mod = 899 * max(1, n_households // 500000)
    while math.gcd(house_mod, 2 * 3 * 5 * 7 * 11 * 23) != 1:
        house_mod += 1
    hh = (
        hh.withColumn("house_num", (h % house_mod + 1).cast("string"))
        .withColumn("gali_num", ((h / 7).cast("long") % 23 + 1).cast("string"))
        .withColumn("colony", _pick(COLONIES, (h / 11).cast("long")))
        .withColumn("has_subarea", (h % 3 != 0))
        .withColumn("subarea", _pick(SUBAREAS, (h / 3).cast("long")))
        .withColumn(
            "pincode",
            F.when(h % 5 == 0, F.lit(MEGA_PINCODE)).otherwise(_pick(PINCODES, h % 20)),
        )
        .withColumn("city", F.when(h % 10 < 8, F.lit("NEW DELHI")).otherwise(F.lit("DELHI")))
        .withColumn("has_sector", h % 4 == 0)
        .withColumn("sector_num", (h % 40 + 1).cast("string"))
        .withColumn(
            "n_variants",
            F.when(h % 7 == 0, F.lit(1)).otherwise((h % 3 + 2).cast("int")),
        )
    )

    m = hh.select("*", F.explode(F.sequence(F.lit(0), F.col("n_variants") - 1)).alias("v"))

    locality_part = F.when(
        F.col("has_subarea"),
        F.concat_ws(", ", F.col("colony"), F.col("subarea")),
    ).otherwise(F.col("colony"))

    sector_part = F.when(F.col("has_sector"), F.concat(F.lit(", SEC-"), F.col("sector_num"))).otherwise(
        F.lit("")
    )

    city_abbrev = F.when(F.col("city") == "NEW DELHI", F.lit("N.DELHI")).otherwise(F.col("city"))
    hindi_household = (h % 11 == 0)

    v = F.col("v")
    addr = (
        F.when(
            v == 0,
            F.concat(
                F.lit("H.NO "), F.col("house_num"),
                F.lit(", GALI NO "), F.col("gali_num"),
                F.lit(", "), locality_part, sector_part,
                F.lit(", "), F.col("city"), F.lit(" "), F.col("pincode"),
            ),
        )
        .when(
            (v == 1) & hindi_household,
            F.concat(
                F.lit("H.NO "), F.col("house_num"),
                F.lit(", गली "), F.col("gali_num"),
                F.lit(", "), locality_part, sector_part,
                # city stays Latin: word-split transliteration cannot
                # recover "NEW DELHI" from "नई दिल्ली", which would split
                # this variant into a different block than its siblings
                F.lit(", "), F.col("city"), F.lit(" "), F.col("pincode"),
            ),
        )
        .when(
            v == 1,
            F.concat(
                F.lit("HOUSE NO "), F.col("house_num"),
                F.lit(", "), locality_part,
                F.lit(", GALI "), F.col("gali_num"), sector_part,
                F.lit(", "), city_abbrev, F.lit(" "), F.col("pincode"),
            ),
        )
        .when(
            v == 2,
            F.lower(
                F.concat(
                    F.lit("hno "), F.col("house_num"),
                    F.lit(" gali no "), F.col("gali_num"),
                    F.lit(" "), F.regexp_replace(locality_part, ", ", " "),
                    F.lit(" "), F.col("city"), F.lit(" "), F.col("pincode"),
                )
            ),
        )
        .otherwise(
            F.concat(
                F.lit("H NO "), F.col("house_num"),
                F.lit(", FIRST FLOOR, GALI NO "), F.col("gali_num"),
                F.lit(", "), locality_part, sector_part,
                F.lit(", "), F.col("city"), F.lit(", "), F.col("pincode"),
            )
        )
    )

    m = m.withColumn("raw", addr).withColumn("mention_idx", h * 4 + v)

    n_pages_est = max(1, (n_households * 5 // 2) // mentions_per_page)
    m = m.withColumn("page", F.col("mention_idx") % n_pages_est)

    # order within page = mention_idx order; seq assigned after grouping
    grouped = (
        m.groupBy("page")
        .agg(F.sort_array(F.collect_list(F.struct("mention_idx", "raw", "h"))).alias("ms"))
    )

    page_texts = grouped.select(
        "page",
        F.concat_ws(
            "\n",
            _pick(FILLERS, F.col("page")),
            F.concat_ws("\n", F.transform(F.col("ms"), lambda s: s["raw"])),
            _pick(FILLERS, F.col("page") + 3),
        ).alias("text"),
        F.col("ms"),
    )

    url = F.concat(F.lit("https://example.org/p/"), F.lpad(F.col("page").cast("string"), 10, "0"))
    pages = page_texts.select(
        url.alias("url"),
        F.to_timestamp(F.from_unixtime(F.lit(1577836800) + F.col("page"))).alias("warc_ts"),
        F.encode(
            F.concat(F.lit("<html><body>"), F.col("text"), F.lit("</body></html>")), "UTF-8"
        ).alias("html"),
        F.col("text"),
        F.when(
            F.exists(F.col("ms"), lambda s: s["raw"].rlike("[\\u0900-\\u097F]")),
            F.lit("mixed"),
        )
        .otherwise(F.lit("en"))
        .alias("lang"),
        F.col("ms"),
    )

    truth = pages.select(
        "url", F.posexplode(F.col("ms")).alias("mention_seq", "s")
    ).select(
        "url",
        "mention_seq",
        F.concat_ws("#", F.col("url"), F.col("mention_seq").cast("string")).alias("mention_id"),
        F.col("s.h").alias("entity_id"),
        F.col("s.raw").alias("raw"),
    )

    pages = pages.drop("ms")

    labeled_pairs = _labeled_pairs(truth, hh)
    return {"pages": pages, "truth": truth, "labeled_pairs": labeled_pairs}


def _labeled_pairs(truth: DataFrame, hh: DataFrame) -> DataFrame:
    """Pairs sampled at identical blocking keys, labelled by household id."""
    # extraction labels the colony as the first SUBAREA span (all colony
    # vocab entries are reference known-localities), so the pipeline's
    # locality is the colony — mirror that here
    locality = F.col("colony")
    block_key = F.concat_ws(
        "|",
        F.col("pincode"),
        F.col("city"),
        F.soundex(F.regexp_replace(locality, "[^A-Za-z]", "")),
    )
    keyed = hh.select(F.col("h").alias("entity_id"), block_key.alias("block_key"))
    tm = truth.join(keyed, "entity_id").select("mention_id", "entity_id", "block_key")

    a = tm.select(
        F.col("mention_id").alias("mention_id_a"),
        F.col("entity_id").alias("ea"),
        "block_key",
    )
    b = tm.select(
        F.col("mention_id").alias("mention_id_b"),
        F.col("entity_id").alias("eb"),
        F.col("block_key").alias("bk_b"),
    )
    pairs = a.join(
        b,
        (F.col("block_key") == F.col("bk_b"))
        & (F.col("mention_id_a") < F.col("mention_id_b")),
    ).select(
        "mention_id_a",
        "mention_id_b",
        "block_key",
        (F.col("ea") == F.col("eb")).alias("is_match"),
    )
    # deterministic thinning of the (much larger) negative class: keep all
    # positives and ~2 negatives per positive
    neg = pairs.where(~F.col("is_match")).where(
        F.pmod(F.xxhash64("mention_id_a", "mention_id_b"), 17) < 2
    )
    pos = pairs.where(F.col("is_match"))
    return pos.unionByName(neg)
