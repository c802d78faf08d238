"""The row-to-records Python boundary: ONE Arrow batch loop for every
UDF that turns one input row into a list of output records (stage-1
mention detection, word tags / probabilities, the WARC member parse).

Following *Accelerating Python UDFs in Vectorized Query Execution*
(CIDR 2022), the boundary marshalling lives here, apart from the UDF
compute: a caller supplies only the worker-side compute and the
declared output schema; projection, null filtering, record numbering,
key repetition and Arrow batch assembly happen once, in this module.
"""

from __future__ import annotations

from typing import Callable, Iterator, List, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

# compute(values of ``col`` in one batch) -> one list of record tuples
# per value, each tuple laid out like the schema's record fields
Compute = Callable[[list], Sequence[Sequence[tuple]]]


def explode_records(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    schema: str,
    make: Callable[[], Compute],
) -> DataFrame:
    """``df`` -> one output row per record of each non-null ``col``.

    ``schema`` (DDL) lays each output row out as: the ``keys`` columns,
    repeated from the input row; one integer column numbering that
    row's records from 0 (``mention_id`` / ``pos`` / ``record_idx``);
    then the record fields, in the order of the compute's tuples.

    The JVM side projects ``(*keys, col)`` — the narrow scan — and drops
    rows whose ``col`` IS NULL, so a null input yields no records, like
    an empty one.  ``make()`` runs once per task on the Python worker
    and builds its singletons (tokenizer, tagger); the compute it
    returns runs once per Arrow batch, and each batch comes back as
    one ``pyarrow.RecordBatch`` typed by ``schema`` through
    ``mapInArrow`` — no pandas on either side of the boundary."""
    out = to_arrow_schema(StructType.fromDDL(schema))
    key_fields = list(out)[: len(keys)]
    idx_field = out.field(len(keys))
    rec_fields = list(out)[len(keys) + 1:]

    def batches(it: Iterator) -> Iterator:
        import pyarrow as pa

        compute = make()  # worker singletons, once per task
        for batch in it:
            rows: List[int] = []
            idx: List[int] = []
            recs: List[tuple] = []
            for row, records in enumerate(
                compute(batch.column(col).to_pylist())
            ):
                for i, rec in enumerate(records):
                    rows.append(row)
                    idx.append(i)
                    recs.append(rec)
            take = pa.array(rows, pa.int64())
            fields = zip(*recs) if recs else [[]] * len(rec_fields)
            # cast: input timestamps arrive in the session time zone and
            # strings may arrive large; the declared schema wins
            arrays = [
                batch.column(k).take(take).cast(f.type)
                for k, f in zip(keys, key_fields)
            ]
            arrays.append(pa.array(idx, idx_field.type))
            arrays += [pa.array(v, f.type) for v, f in zip(fields, rec_fields)]
            yield pa.RecordBatch.from_arrays(arrays, schema=out)

    return (
        df.select(*keys, col)
        .filter(F.col(col).isNotNull())
        .mapInArrow(batches, schema)
    )
