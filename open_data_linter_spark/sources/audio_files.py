"""Raw audio files → the canonical clip table.

The reference linter's unit of work is a loose FILE (bytes + filename,
open_data_linter.py:11-21); the engine's is a row of the clip table. This
source closes that gap for the audio axis: point it at a directory of raw
WAV / µ-law / A-law containers and get back the exact table shape every
rule in the engine consumes —
``(clip_id, bytes, sr_hz, dur_ms, codec, transcript)``.

Shape: ``binaryFile`` scan (distributed, whole-file rows, Catalyst prunes
``content`` when later plans don't need it) → ONE Arrow pass deriving
``(codec, sr_hz, dur_ms)`` from each container via the engine's codec
layer. Files that don't decode keep their bytes with NULL metadata — the
1-1 readability rule downstream reports them, mirroring the reference's
decode-failure-as-lint-error (csv_linter.py:73-86); this source never
throws on bad data. ``dur_ms = round(n/sr·1000)`` matches the synthesis
convention, so the 1-11 duration-consistency rule passes on clean files
by construction.

Transcripts are not inside audio containers: pass an optional
``(clip_id, transcript)`` frame (e.g. read from a sidecar manifest) and
it left-joins on clip_id; otherwise transcript is NULL — note the
1-6-nulls ROW rule flags NULL transcripts as violations (a gate that
drops on violations would drop everything; the ingest CLI exempts
exactly that rule/column pair when no sidecar exists).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CLIPS_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("dur_ms", T.IntegerType()),
        T.StructField("codec", T.StringType()),
        T.StructField("transcript", T.StringType()),
    ]
)


def clips_from_files(
    spark: SparkSession,
    path_glob: str,
    transcripts: DataFrame | None = None,
    id_from: str = "stem",
) -> DataFrame:
    """Load ``path_glob`` (a dir or glob of raw audio files) as the
    canonical clip table. ``id_from``: ``"stem"`` (basename without
    extension, the natural clip id) or ``"path"`` (full URI — use when
    stems can collide across subdirectories)."""
    if id_from not in ("stem", "path"):
        raise ValueError("id_from must be 'stem' or 'path'")
    src = spark.read.format("binaryFile").load(path_glob).select(
        "path", "content"
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from open_data_linter_spark.audio.codecs import decode_clip

        for b in batches:
            rows = []
            for path, data in zip(b["path"], b["content"]):
                name = path.rsplit("/", 1)[-1]
                cid = name.rsplit(".", 1)[0] if id_from == "stem" else path
                try:
                    codec, sr, pcm = decode_clip(bytes(data))
                    rows.append(
                        {
                            "clip_id": cid,
                            "bytes": bytes(data),
                            "sr_hz": sr,
                            "dur_ms": int(round(len(pcm) / sr * 1000.0)),
                            "codec": codec,
                            "transcript": None,
                        }
                    )
                except (ValueError, TypeError):
                    # keep the bytes, NULL the metadata: the 1-1 rule's
                    # error channel reports these, this source never throws
                    rows.append(
                        {
                            "clip_id": cid,
                            "bytes": bytes(data),
                            "sr_hz": None,
                            "dur_ms": None,
                            "codec": None,
                            "transcript": None,
                        }
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in CLIPS_SCHEMA.fields]
            )

    clips = src.mapInPandas(gen, schema=CLIPS_SCHEMA)
    if transcripts is not None:
        clips = clips.drop("transcript").join(
            F.broadcast(transcripts.select("clip_id", "transcript")),
            "clip_id",
            "left",
        ).select(*[f.name for f in CLIPS_SCHEMA.fields])
    return clips
