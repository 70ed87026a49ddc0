"""Benchmark harness for manga_translator_spark; see NOTES.md."""
