"""Text cleaning / tokenization / n-gram / MinHash as pure Column expressions.

Everything here stays inside whole-stage codegen (no Python UDFs in the hot
path). The reference implemented these as ~20 scalar Scala UDFs; they all
collapse into built-ins:

- clean_text      <- cleaner_udf, strips ``[\\d,:;?!]`` (reference
                     feature/Utils.scala:177, ExtractMinHashLSH.scala:89)
- remove_small_words <- smallWordRemover ``\\b\\w{2}\\b`` (feature/Utils.scala:178)
- tokens          <- RegexTokenizer pattern ``\\W`` lowercase
                     (feature/Utils.scala:186-187)
- ngrams          <- pyspark.ml.feature.NGram semantics, "ngram REPLACES
                     unigram" rule (feature/Utils.scala:206-216)
- minhash_signature <- CustomizedMinHashLSH hashing (CustomizedMinHashLSH.scala:33-43),
                     re-based on md5 so the DuckDB oracle can reproduce it
                     bit-for-bit (lexicographic min over hex digests is a
                     valid min-wise hash family).

Design note (100 TB): these are narrow per-row transformations — no shuffle,
fully pipelined into the parquet scan, codegen'd by Catalyst.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Default punctuation/digit strip set, mirroring the reference's cleaner_udf.
CLEAN_PATTERN = r"[0-9,:;?!.]"


def clean_text(col: Column | str) -> Column:
    """Lowercase and strip digits + punctuation (reference cleaner_udf)."""
    return F.regexp_replace(F.lower(F.col(col) if isinstance(col, str) else col), CLEAN_PATTERN, "")


def remove_small_words(col: Column | str, max_len: int = 2) -> Column:
    """Drop words of <= max_len letters (reference smallWordRemover)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, rf"\b\w{{1,{max_len}}}\b", "")


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of cleaned text -> array<string>, empties removed.

    Equivalent DuckDB: list_filter(string_split(<cleaned>, ' '), x -> x <> '').
    """
    c = clean_text(col)
    return F.filter(F.split(c, " "), lambda x: x != "")


def token_set(col: Column | str) -> Column:
    """Sorted distinct token array — the index-set representation the
    reference's set-based similarity measures operate on
    (SimilarityMeasure.scala:78-95 uses vector index sets)."""
    return F.array_sort(F.array_distinct(tokens(col)))


def _bind(col: Column, body) -> Column:
    """``body(col)`` with ``col`` evaluated once per row.

    A Column read inside a higher-order lambda is re-evaluated on every
    lambda call: ``slice(tokens(text), i, n)`` inside ``transform`` re-runs
    the tokenizer and md5 for every window, O(L^2) per document. Binding
    ``col`` as the variable of a one-element ``transform`` evaluates it
    once; ``body`` then reads only the variable.
    """
    return F.transform(F.array(col), body)[0]


def ngrams(token_col: Column, n: int) -> Column:
    """Contiguous word n-grams joined by spaces (pyspark.ml NGram semantics).

    Pure expression: slice a sliding window over the token array. Guarded so
    arrays shorter than ``n`` yield an empty array (Spark's ``sequence`` would
    otherwise produce a descending range).
    """

    def body(toks: Column) -> Column:
        size = F.size(toks)
        idx = F.sequence(F.lit(1), size - F.lit(n - 1))
        grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
        return F.when(size >= n, grams).otherwise(F.array().cast("array<string>"))

    return _bind(token_col, body)


def ngram_set(col: Column | str, n: int) -> Column:
    """Sorted distinct n-gram shingles of the cleaned text."""
    return F.array_sort(F.array_distinct(ngrams(tokens(col), n)))


# The reference's MinHash modulus (CustomizedMinHashLSH.scala:139).
HASH_PRIME = 2038074743

# Per-hash (a, b) constants from a fixed LCG seeded with the reference's LSH
# seed 12345 (CustomizedMinHashLSH.scala / ExtractMinHashLSH.scala:108-111) —
# deterministic, embedded as literals so a SQL oracle can reproduce them.
def _lcg_constants(n: int, seed: int = 12345) -> list[tuple[int, int]]:
    out, s = [], seed
    for _ in range(n):
        s = (1103515245 * s + 12345) % (2**31)
        a = 1 + (s % (HASH_PRIME - 1))
        s = (1103515245 * s + 12345) % (2**31)
        b = s % HASH_PRIME
        out.append((a, b))
    return out


MINHASH_AB = _lcg_constants(64)


def token_id(tok: Column) -> Column:
    """60-bit integer id of a token: first 15 hex digits of md5, as long.

    Engine-independent (DuckDB: ('0x'||substr(md5(t),1,15))::UBIGINT::BIGINT)
    and 7x faster to intersect than string arrays in the pair-scoring loop.
    """
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")


def token_id_set(col: Column | str) -> Column:
    """Sorted distinct array<long> of token ids — the engine's native
    set representation for similarity scoring."""
    return F.array_sort(F.array_distinct(F.transform(tokens(col), token_id)))


def ordered_token_ids(col: Column | str) -> Column:
    """Ordered (non-distinct) array<long> of token ids — one md5 per token;
    shingle ids derive from this without further hashing."""
    return F.transform(tokens(col), token_id)


# Rolling-hash multiplier for shingle ids (any ~2^20 constant works; B*P
# stays under 2^51 so the fold below never overflows a signed 64-bit long).
SHINGLE_B = 1000003


def ngram_ids_from_token_ids(tok_ids_col: Column, n: int) -> Column:
    """Sorted distinct shingle ids from an ORDERED token-id array.

    Each n-gram id is the polynomial rolling hash
    ``fold(acc=0; acc -> (acc*B + x mod P) mod P)`` over its window — pure
    integer math (acc < P < 2^31, so acc*B < 2^51), no per-shingle md5 or
    string materialization, and bit-exact in any SQL engine (DuckDB:
    list_reduce over the P-reduced window). Replaces md5-of-joined-words
    shingle ids, which cost one digest + two string allocations per shingle
    — the measured dominant cost of the MinHash dedup plan.
    """

    def body(tok_ids: Column) -> Column:
        size = F.size(tok_ids)
        idx = F.sequence(F.lit(1), size - F.lit(n - 1))
        gram = F.transform(
            idx,
            lambda i: F.aggregate(
                F.slice(tok_ids, i, n),
                F.lit(0).cast("long"),
                lambda acc, x: (acc * SHINGLE_B + x % HASH_PRIME) % HASH_PRIME,
            ),
        )
        grams = F.when(size >= n, gram).otherwise(F.array().cast("array<long>"))
        return F.array_sort(F.array_distinct(grams))

    return _bind(tok_ids_col, body)


def ngram_id_set(col: Column | str, n: int) -> Column:
    """Sorted distinct array<long> of n-gram shingle ids (rolling hash over
    per-token ids — see ngram_ids_from_token_ids)."""
    return ngram_ids_from_token_ids(ordered_token_ids(col), n)


def minhash_signature(set_col: Column, num_hashes: int = 16) -> Column:
    """MinHash signature as array<long> over an array<long> element set.

    h_i(S) = min over x in S of ((1 + x mod P) * a_i + b_i) mod P — the
    reference's hash family (CustomizedMinHashLSH.scala:33-43). Pure 64-bit
    integer math: (1 + x%P) < 2^31 and a_i < P < 2^31 keep the product in
    2^62, so Spark and any SQL oracle agree exactly. Empty sets get the
    sentinel P (greater than any hash value).
    """
    if num_hashes > len(MINHASH_AB):
        raise ValueError(f"num_hashes > {len(MINHASH_AB)} precomputed constants")

    def one_hash(i: int) -> Column:
        a, b = MINHASH_AB[i]
        hashed = F.transform(
            set_col, lambda x: ((x % HASH_PRIME + 1) * a + b) % HASH_PRIME
        )
        return F.coalesce(F.array_min(hashed), F.lit(HASH_PRIME))

    return F.array(*[one_hash(i) for i in range(num_hashes)])


def minhash_bands(sig_col: Column, num_bands: int, rows_per_band: int) -> Column:
    """Group a signature into LSH bands: array of 'bandIdx|h1|h2|...' strings.

    Docs colliding on ANY band become join candidates — the OR-amplification
    the reference gets from numHashTables (CustomizedLSH.scala:20-27).
    """
    bands = []
    for b in range(num_bands):
        parts: list[Column] = [F.lit(f"{b}")]
        for r in range(rows_per_band):
            parts.append(
                F.element_at(sig_col, b * rows_per_band + r + 1).cast("string")
            )
        bands.append(F.concat_ws("|", *parts))
    return F.array(*bands)
