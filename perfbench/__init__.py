"""The repository benchmark (see DESIGN.md; entry point run.py)."""
