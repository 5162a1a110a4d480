"""The fetch-loop door's part files: no dictionary pages, delta-encoded
int64 columns, snappy — and every reader (pyarrow, DuckDB, Spark) gets
back exactly the rows the door staged."""

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from supermusr_data_pipeline_spark.kafka.client import ConsumerRecord
from supermusr_data_pipeline_spark.sources import messages as M
from supermusr_data_pipeline_spark.streaming.nexus_fetchloop import (
    _EVENT_SCHEMA,
    FetchLoopNexusWriter,
)

T0_US = 1_709_294_400_000_000
N_DIG = 4


def _dev2(did, frame, n_events):
    md = {
        "ts_ns": (T0_US + frame * 20_000) * 1000,
        "period_number": 0,
        "protons_per_pulse": 4,
        "running": True,
        "frame_number": frame,
        "veto_flags": did,
    }
    return M.encode_dev2(
        did, md,
        [(97 * e * (frame + 1)) % 20_000 for e in range(n_events)],
        [(31 * e + did) % 65_536 for e in range(n_events)],
        [(did * 8 + e) % 32 for e in range(n_events)],
    )


def _canon(rows):
    return sorted(rows, key=repr)


def test_staged_parts_encoding_and_readback(spark, tmp_path):
    payloads = [
        _dev2(d, f, 0 if f == 2 else 40 + 7 * f)
        for f in range(5) for d in range(N_DIG)
    ]
    w = FetchLoopNexusWriter(
        runs=[{"run_name": "r", "from_us": T0_US - 1, "until_us": None}],
        path=str(tmp_path / "s"), expected_digitizers=list(range(N_DIG)),
        bootstrap="unused:0", topics=["t"],
    )
    # small slices: the pooled multi-part staging path writes too
    w._STAGE_SLICE_ROWS = 200
    staged = []
    orig = w._write_part

    def capture(table, path):
        orig(table, path)
        staged.append((table, path))

    w._write_part = capture
    w.poll_once(
        records=[
            ConsumerRecord("t", 0, i, 0, None, p)
            for i, p in enumerate(payloads)
        ]
    )
    assert len(staged) > 1
    int64_cols = {f.name for f in _EVENT_SCHEMA if f.type == pa.int64()}
    for table, tmp in staged:
        final = os.path.join(
            os.path.dirname(tmp), os.path.basename(tmp)[1:-len(".tmp")]
        )
        md = pq.ParquetFile(final).metadata
        assert md.schema.to_arrow_schema() == _EVENT_SCHEMA
        for g in range(md.num_row_groups):
            for j in range(md.num_columns):
                col = md.row_group(g).column(j)
                assert not col.has_dictionary_page, col.path_in_schema
                assert "RLE_DICTIONARY" not in col.encodings
                assert "PLAIN_DICTIONARY" not in col.encodings
                assert col.compression == "SNAPPY"
                if col.path_in_schema in int64_cols:
                    assert "DELTA_BINARY_PACKED" in col.encodings

        want = table.cast(_EVENT_SCHEMA)
        assert pq.read_table(final).equals(want)
        names = want.schema.names
        want_rows = [tuple(r.values()) for r in want.to_pylist()]
        got_duck = duckdb.sql(
            f"SELECT {', '.join(names)} FROM read_parquet('{final}')"
        ).fetchall()
        assert _canon(got_duck) == _canon(want_rows)
        got_spark = [
            tuple(r) for r in spark.read.parquet(final).select(*names).collect()
        ]
        assert _canon(got_spark) == _canon(want_rows)
