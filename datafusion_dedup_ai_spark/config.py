"""Engine configuration.

Mirrors the reference's settings dict (reference engine.py:10-41) as a frozen
dataclass: thresholds, the 26-entry legal-suffix list, the 20-entry country
list, and the acronym/alias map with user overrides. Values become literals in
the Catalyst plan (constant-folded), never driver-side loops.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# Legal-form suffixes, matched longest-first at end-of-string until fixpoint
# (reference engine.py:19-24; ordering by length desc so e.g. "PRIVATE LIMITED"
# wins over "LIMITED").
LEGAL_SUFFIXES: tuple[str, ...] = tuple(
    sorted(
        [
            "PRIVATE LIMITED", "PVT LTD", "PVT. LTD.", "LTD", "LIMITED", "LLC",
            "LLP", "PLC", "INC", "INCORPORATED", "CO", "CO.", "COMPANY",
            "PTE LTD", "GMBH", "GMBH & CO KG", "B.V.", "A/S", "S.A. DE C.V.",
            "SP Z O O", "SP ZOO", "S R L", "S.R.L.", "S A", "S.P.A.", "SA DE CV",
        ],
        key=len,
        reverse=True,
    )
)

# Country tokens folded off the end of a name ("IBM INDIA" -> "IBM")
# (reference engine.py:27-31).
COUNTRY_TOKENS: tuple[str, ...] = tuple(
    sorted(
        [
            "INDIA", "USA", "UAE", "CHINA", "JAPAN", "KOREA", "SINGAPORE",
            "MALAYSIA", "CANADA", "BRAZIL", "GERMANY", "FRANCE", "ITALY",
            "UNITED STATES", "UNITED KINGDOM", "HONG KONG", "NEW ZEALAND",
            "SOUTH AFRICA", "SAUDI ARABIA", "COTE DIVOIRE",
        ],
        key=len,
        reverse=True,
    )
)

# Exact-match alias rewrites applied to the cleaned base name
# (reference engine.py:34-38).
DEFAULT_ACRONYM_MAP: dict[str, str] = {
    "IBM INDIA": "IBM",
    "TCS": "TATA CONSULTANCY SERVICES",
    "HDFC": "HDFC BANK",
}

# Confidence tiers are hard-coded in the reference independent of the
# configured thresholds (reference engine.py:371-375, 272).
CONF_TOKEN_AND_HARD = 0.98
CONF_HARD = 0.95
CONF_SOFT = 0.88
CONF_DEFAULT = 0.70
CONF_EMPTY_BASE = 0.50

REASON_TOKEN_AND_HARD = "token-sorted match AND ratio >= 0.90"
REASON_HARD = "ratio >= 0.90"
REASON_SOFT = "ratio >= 0.85"
REASON_DEFAULT = "Isolated or weak match"
REASON_EMPTY_BASE = "No base name after cleaning; kept as singleton"

# Max unrolled passes of trailing-suffix deletion. The reference loops to
# fixpoint (engine.py:53-60); one pass strips a whole chain of *distinct*
# suffixes, so extra passes are only consumed by the same suffix repeated
# ("ltd ltd ltd" needs 3). 4 bounds every realistic input while keeping the
# computation a pure Column expression.
SUFFIX_STRIP_PASSES = 4


@dataclass(frozen=True)
class DedupConfig:
    """Settings for the dedup pipeline (reference engine.py:10-16).

    ``max_block_size`` is a scale guard with no reference analog: blocks larger
    than this are sub-split before pair generation (each extra base-name prefix
    char refines the block) so one hot key cannot produce O(k^2) pairs on a big
    cluster run. ``None`` (default) preserves exact reference semantics.
    """

    hard_threshold: float = 0.90
    soft_threshold: float = 0.85
    no_subsidiary_fold: bool = False
    enable_web_search: bool = False
    enable_enrichment: bool = False
    acronym_overrides: dict[str, str] = field(default_factory=dict)
    max_block_size: int | None = None
    # Blocks with more member rows than this route to the connected-
    # components mega-block fallback in clustering (identical partitions,
    # order-independent upper-bound confidences) instead of the one-task
    # block pass. ``None`` keeps exact reference semantics for every block.
    mega_block_rows: int | None = None
    # Component algorithm for that fallback: "lp" (hash-min label
    # propagation, O(diameter) rounds) or "star" (large-star/small-star
    # contraction, O(log^2 n) proven / O(log n) in practice — the choice
    # for chain-shaped near-dup graphs). Identical partitions either way.
    cc_backend: str = "lp"

    @property
    def acronym_map(self) -> dict[str, str]:
        merged = dict(DEFAULT_ACRONYM_MAP)
        merged.update({k.upper(): v.upper() for k, v in self.acronym_overrides.items()})
        return merged


def parse_mapping_string(text: str) -> dict[str, str]:
    """Parse ``"GE->GENERAL ELECTRIC; P&G->PROCTER & GAMBLE"`` into an upcased
    alias dict (reference app.py:44-52, op U1)."""
    out: dict[str, str] = {}
    for part in (text or "").split(";"):
        part = part.strip()
        if not part or "->" not in part:
            continue
        src, dst = part.split("->", 1)
        if src.strip() and dst.strip():
            out[src.strip().upper()] = dst.strip().upper()
    return out
