"""Matrix/spectral sketching over embedding columns: Frequent Directions
built by the same one-scan build and tree merge as the frequency
sketches, so a 10^12-row embedding table reduces to one (ell x d) float
block per group without ever materializing a d x d Gram per partition in
the shuffle (blobs are <= ell rows by construction — `to_bytes` shrinks).

Spark shape: `fd_agg` is a one-spec `agg.sketch_agg` call. The scan's fd
branch (`agg.build_partials_multi`) reads the vector column zero-copy
from Arrow's list values buffer into an (n, d) numpy matrix — no per-row
object allocation — and `agg.tree_merge` shuffles only the KB-sized
blobs. The SVDs run inside the scan tasks at (2*ell x d) cost each —
compute proportional to data read, state independent of row count.
"""

from __future__ import annotations

from . import agg
from .queries import _blob_udf


def fd_agg(df, vec_col: str = "embedding", d: int = 64, ell: int = 16,
           group_cols=()):
    """Per-group Frequent Directions sketch of a vector column.

    → DataFrame(group_cols..., sketch_type, state, n_items), one blob row
    per group; `state` decodes via kernels.registry. NULL and
    wrong-length vectors (and vectors with a NULL or non-finite element)
    are dropped; n_items counts the vectors kept.
    """
    return agg.sketch_agg(df, "fd", vec_col, group_cols,
                          {"d": d, "ell": ell})


def principal_spectrum(df, vec_col: str = "embedding", d: int = 64,
                       ell: int = 16, k: int = 5, group_cols=()):
    """Top-k spectral summary of an embedding table from the merged FD
    sketch: per rank i, the sketch singular value sigma_i(B) (a certified
    lower bound on the data's sigma_i(A), tight to within sqrt(shed)) plus
    the sketch's tracked error bound and row count — the 'how concentrated
    is this embedding space' diagnostic before clustering/SemDeDup runs.

    → DataFrame(group_cols..., rank int, sing_value double,
    gram_error_bound double, n_rows long), values rounded to 4 decimals
    (SVD is deterministic per input but not across BLAS builds; the
    oracle-exact twin for small inputs is gated in pytest, not DuckDB).
    """
    blobs = fd_agg(df, vec_col, d=d, ell=ell, group_cols=group_cols)
    return spectrum_from_blobs(blobs, k=k, group_cols=group_cols)


def spectrum_from_blobs(blobs, k: int = 5, group_cols=()):
    """Explode an fd_agg blob table into the per-rank spectral summary —
    the cheap half of `principal_spectrum`, exposed so callers that
    already materialized (or persisted/wrote) the blobs never rerun the
    corpus scan just to read singular values."""
    from pyspark.sql import functions as F

    def ranks(st):
        return [{"rank": i + 1, "sing_value": round(float(sv), 4),
                 "gram_error_bound": round(st.shed, 4), "n_rows": st.n_rows}
                for i, sv in enumerate(st.spectrum(k))]

    spec = _blob_udf("array<struct<rank:int,sing_value:double,"
                     "gram_error_bound:double,n_rows:long>>", ranks)
    return (blobs.select(*group_cols, F.explode(spec("state")).alias("s"))
            .select(*group_cols, "s.*"))
