from open_data_linter_spark.sources.audio_files import clips_from_files  # noqa: F401
