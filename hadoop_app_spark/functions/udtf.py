"""First-class Python UDTFs — the reference's ``Mapper.map`` contract
as a REGISTERED table function.

SURVEY §2.10 maps the reference's extension points onto Spark's:
``Mapper.map`` is a row→rows UDTF. A 0..1-row mapper such as
MaxTemperatureMapper.java:16-23 is a projection plus a null-drop, which
``sources/ncdc.parse_fixed_width`` runs JVM-side; the 0..N shape
(UserHotcar.java:42-100) is what needs a table function. This module
provides it via Spark 4's Python UDTF API
(``pyspark.sql.functions.udtf`` + ``spark.udtf.register``), usable as
``SELECT t.* FROM src, LATERAL fn(col) t`` or ``SELECT * FROM
fn(...)``.

Performance honesty (the rule everywhere else in this repo): a Python
UDTF evaluates per input row in the Python worker. Registration turns
on ``spark.sql.execution.pythonUDTF.arrow.enabled`` so row transfer is
Arrow-batched, but the per-row eval loop remains — this is the
EXTENSION surface, deliberately, not the hot path. Every operator the
engine ships keeps its built-in/vectorized implementation; the UDTF
exists so user-supplied row→rows logic has a first-class,
SQL-addressable home (and so the registry can verify the surface works
end-to-end against an oracle).
"""

from __future__ import annotations

from pyspark.sql.functions import udtf


@udtf(returnType="chunk_id int, start int, chunk string")
class ChunkSpansUDTF:
    """Row fan-out (the UserHotcar.java:42-100 0..N shape): fixed-size
    character windows with overlap — chunk i covers
    ``[i*stride, i*stride + size)``, stride = size - overlap, last
    chunk may be short, empty/null text emits nothing. Deterministic
    pure arithmetic, so a DuckDB generate_series replays it exactly."""

    def eval(self, text: str, size: int, overlap: int):
        if not text or size is None or size <= 0:
            return
        stride = max(size - (overlap or 0), 1)
        i = 0
        for start in range(0, len(text), stride):
            yield i, start, text[start : start + size]
            i += 1


def register_udtfs(spark) -> None:
    """Idempotent registration of the UDTF surface under fixed SQL
    names (+ enable Arrow transfer for the eval loop)."""
    spark.conf.set("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
    spark.udtf.register("chunk_spans", ChunkSpansUDTF)
