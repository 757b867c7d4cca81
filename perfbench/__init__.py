"""End-to-end crawl benchmark (see run.py and NOTES.md)."""
