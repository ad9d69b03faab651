"""Pure-numpy sketch kernels. No pyspark imports here — everything operates on
numpy arrays so the same code runs inside Arrow-batched UDFs and in plain
unit tests.

Each kernel is a class whose instance is the sketch state:
    registry.make(kind, **params)   empty state
    st.update(values)               vectorized batch update in place;
                                    returns st
    st.update_hashes(h, ...)        hll, theta, cms, bloom, cs: update
                                    from precomputed 64-bit hashes
    st.merge(other)                 associative merge; returns the result
    st.estimate() / quantiles(qs) / ...   query the sketch
    st.to_bytes() / registry.from_bytes(buf)
                                    versioned little-endian serialization
"""

from . import (hashing, hll, cms, bloom, kll, tdigest,  # noqa: F401
               theta, mg, fd, cs, dd)  # noqa: F401
