"""The build-parameter stamp of the persisted incremental-dedup indexes.

Each index family stamps the parameters it was built with into the
metadata of one of its columns; the stamp rides in the parquet footer
at zero bytes per row.  A screen probed with other parameters would
join incomparable hashes and quietly return a near-empty screen, so
it checks the stamp against its own parameters first and raises.  An
index written before the stamp existed carries none and is not
checked.

- ``fp`` (:func:`~.dedup.corpus_fingerprints`): ``vaex_spark_fp`` on
  ``__fp`` — normalize
- ``minhash`` (:func:`~.dedup.corpus_lsh_index`): ``vaex_spark_minhash``
  on ``band`` — shingle_k, num_perm, num_bands
- ``winnow`` (:func:`~.text.corpus_winnow_index`): ``vaex_spark_winnow``
  on ``fp`` — k, window, fp_type
- ``vector`` (:func:`~.similarity.corpus_vector_index`): ``vaex_spark_lsh``
  on ``__buckets`` — bits, n_tables, seed, dim
"""

from __future__ import annotations

# family -> (metadata key, stamped column, what the screen calls the
# index, what a mismatch breaks, {build parameter: type})
_FAMILIES = {
    "fp": ("vaex_spark_fp", "__fp", "seen_df fingerprint table",
           "the fingerprints", {"normalize": bool}),
    "minhash": ("vaex_spark_minhash", "band", "corpus_index",
                "the MinHash buckets",
                {"shingle_k": int, "num_perm": int, "num_bands": int}),
    "winnow": ("vaex_spark_winnow", "fp", "corpus_index",
               "the winnowed fingerprints",
               {"k": int, "window": int, "fp_type": str}),
    "vector": ("vaex_spark_lsh", "__buckets", "corpus_index",
               "the LSH planes",
               {"bits": int, "n_tables": int, "seed": int, "dim": int}),
}

# the build parameters of each family, in stamp order
BUILD_KEYS = {name: tuple(f[-1]) for name, f in _FAMILIES.items()}


def write(sdf, family: str, **params):
    """``sdf`` with ``family``'s build parameters stamped on its column."""
    key, col, _, _, types = _FAMILIES[family]
    return sdf.withMetadata(
        col, {key: {k: t(params[k]) for k, t in types.items()}})


def check(sdf, family: str, **called) -> dict:
    """The stamp of the index ``sdf`` (``{}`` for a legacy index),
    read from the schema the frame already holds.  Raises one
    ``ValueError`` when a stamped parameter differs from the one the
    screen was called with; a parameter called as None is unknown to
    the screen and not checked."""
    key, col, arg, what, types = _FAMILIES[family]
    fld = next((f for f in sdf.schema.fields if f.name == col), None)
    built = {} if fld is None else dict((fld.metadata or {}).get(key) or {})
    keys = [k for k in types if k in built and called.get(k) is not None]
    if any(types[k](built[k]) != types[k](called[k]) for k in keys):
        def show(d):
            return ", ".join(f"{k}={types[k](d[k])}" for k in keys)
        raise ValueError(
            f"{arg} was built with {show(built)} but the screen was called "
            f"with {show(called)}: {what} cannot match — pass the index's "
            f"parameters (or rebuild the index)")
    return built
