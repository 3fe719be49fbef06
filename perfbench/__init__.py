"""sparksynch benchmark: see run.py."""
