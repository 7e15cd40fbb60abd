"""Pure-Python references shared by the property tests: the rounding,
word-split and language-ID rules the queries implement, written once
without Spark or SQL."""

from __future__ import annotations

import re
from decimal import ROUND_HALF_UP, Decimal

from kafka_go_streamer_spark.functions.text import STOPWORDS


def half_up(x: float, s: int) -> float:
    """``stable_round`` emulation: add the scale-proportional epsilon,
    then round half-up in decimal."""
    eps = 0.5 * 10 ** -(s + 2)
    return float(
        Decimal(repr(x + eps)).quantize(
            Decimal(1).scaleb(-s), rounding=ROUND_HALF_UP
        )
    )


def pwords(text: str) -> list[str]:
    """Whitespace word split of the trimmed, lowercased text."""
    return re.split(r"\s+", text.strip().lower())


def p_lang_id(ws: list[str]) -> str:
    """Stopword-vote language ID: the most-hit language, ties broken
    en > de > es > fr; ``und`` when no stopword hits."""
    hits = {
        lang: sum(1 for w in ws if w in sw)
        for lang, sw in STOPWORDS.items()
    }
    if hits["en"] > 0 and all(
        hits["en"] >= hits[x] for x in ("de", "es", "fr")
    ):
        return "en"
    if hits["de"] > 0 and hits["de"] >= hits["es"] and hits["de"] >= hits["fr"]:
        return "de"
    if hits["es"] > 0 and hits["es"] >= hits["fr"]:
        return "es"
    if hits["fr"] > 0:
        return "fr"
    return "und"
