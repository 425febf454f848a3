"""Fixed constants of the engine and the deterministic fixture.

Single source of truth shared by the Spark engine, the pandas/numpy
oracle (tests/oracle.py) and the DuckDB oracle SQL (__spark_entry__.py).
See FIXTURES.md for the full derivation.
"""

from __future__ import annotations

# ---- token model (FIXTURES.md §1) -----------------------------------------
V = 131072          # vocab size
PAD_ID = 0          # fill-value sentinel (geomatics fill_value=-9999 analog,
                    # reference: geomatics/timeseries.py kwarg fill_value,
                    # UNVERIFIED — SURVEY.md §1.1 / P4)
PAD_THRESHOLD = V // 50   # recurrence value < this → PAD_ID (≈2% of cells)

# per-source token recurrence params: tokens[i] = (a_s*k + b_s*i + c_s) % V.
# Multipliers are large odd numbers so the recurrence wraps mod V even at
# tiny k (small multipliers would leave whole sources below PAD_THRESHOLD);
# odd b_s → gcd(b_s, 2^17) = 1 → full-period position progression.
A_MULT = 104729   # prime
B_MULT = 40503    # odd
def src_params(s: int) -> tuple[int, int, int]:
    return (A_MULT * (2 * s + 1)) % V, (B_MULT * (4 * s + 3)) % V, s * s + 7

# ---- event-time grid (FIXTURES.md §1, SURVEY.md §5.3) ----------------------
T0_EPOCH = 1767225600           # 2026-01-01T00:00:00Z
def step_seconds(s: int) -> int:
    return 60 * (1 + s % 3)     # 60 / 120 / 180 s per source ordinal

# gaps: row k omitted iff (k * GAP_MULT) % 1000 < GAP_CUT  (≈15% missing)
GAP_MULT = 2654435761
GAP_CUT = 150

# sequence length: n_tok = 16 + ((k * 7919) % 241)  → [16, 256]
NTOK_MULT = 7919
NTOK_MOD = 241
NTOK_BASE = 16

# skew: per-source row budget K_s = ceil(K_total / (s+1))  (Zipf-ish)
def source_budget(k_total: int, s: int) -> int:
    return -(-k_total // (s + 1))

# ---- engine defaults -------------------------------------------------------
DEFAULT_SOURCES = 8
TIERS = ("1m", "1h", "1d")
TIER_TRUNC = {"1m": "minute", "1h": "hour", "1d": "day"}
TRUNC_S = {"minute": 60, "hour": 3600, "day": 86400}   # date_trunc unit → s
# salting (SURVEY.md A8): number of salt buckets for skewed two-phase agg
DEFAULT_NSALT = 16
